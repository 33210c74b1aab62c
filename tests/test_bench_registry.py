"""bench.py and __spark_entry__ must stay in sync: every benched query
name resolves in the registry (a rename/merge in queries() without a
bench.py update crashed the round-5 preview run), and every registry
entry keeps its oracle twin with matching keys."""

import bench
import __spark_entry__ as entry


def test_bench_queries_are_registered():
    q = set(entry.queries())
    missing = [n for n in bench.BENCH_QUERIES if n not in q]
    assert not missing, f"BENCH_QUERIES not in queries(): {missing}"


# Queries DELIBERATELY registered without a SQL twin (the driver
# records a rows-only check for these). Every entry here must say why
# no ANSI-SQL oracle can exist — anything else is a missing oracle.
ROWS_ONLY = {
    # sequential agglomerative merge order is not SQL-expressible; the
    # kernel is pinned by tests against an independent naive-recompute
    # reference on all three linkages, and hac_single (same blocking +
    # kernel, single linkage) carries a HARD recursive-CC oracle
    "hac_complete",
}


def test_registry_and_oracles_have_identical_keys():
    q, o = entry.queries(), entry.oracle_sql()
    assert set(q) - ROWS_ONLY == set(o), {
        "queries_without_oracle": sorted(set(q) - ROWS_ONLY - set(o)),
        "orphan_oracles": sorted(set(o) - set(q)),
    }
    assert ROWS_ONLY <= set(q)
    assert not (ROWS_ONLY & set(o))


def test_every_query_body_is_reachable_from_the_registry():
    """Every module-level q_* function is a registered query or is
    called (directly or through helpers) by one — unregistered query
    bodies are dead code that no oracle checks."""
    import ast
    import inspect

    tree = ast.parse(inspect.getsource(entry))
    funcs = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}

    def callees(name):
        return {
            n.id for n in ast.walk(funcs[name])
            if isinstance(n, ast.Name) and n.id in funcs
        }

    reached = set()
    todo = [f.__name__ for f in entry.queries().values()]
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            todo.extend(callees(name) - reached)
    dead = sorted(n for n in funcs if n.startswith("q_") and n not in reached)
    assert not dead, f"q_* bodies unreachable from queries(): {dead}"
