"""Single-core speed of the engine's Arrow batch kernels, timed in the
driver process on the workload's own pages and candidate pairs, with a
bit-for-bit parity check of each batch kernel against its scalar twin.
"""

from __future__ import annotations

import math
import statistics
import time
import zlib

import numpy as np
import pandas as pd

from aml_entity_resolution_assignment_spark.functions import minhash as mh
from aml_entity_resolution_assignment_spark.functions import normalize as N
from aml_entity_resolution_assignment_spark.functions import similarity as sim

KERNELS = [
    "extract_title",
    "minhash",
    "simhash",
    "token_hashset",
    "band_hashes",
    "jaro_winkler",
    "hashset_jaccard",
    "packed_sig_sim",
]
PARITY_ROWS = 300  # scalar twins are per-row Python: check on a prefix


def page_sample(pages, n: int) -> pd.DataFrame:
    """html and the engine's normalized body text of up to n pages."""
    from pyspark.sql import functions as F

    return (
        pages.orderBy("url")
        .limit(n)
        .select("html", N.norm_body_text(F.col("text")).alias("norm_text"))
        .toPandas()
    )


def pair_sample(pairs, keyed, n: int) -> pd.DataFrame:
    """Both sides' scoring payload of up to n candidate pairs."""
    from aml_entity_resolution_assignment_spark.operators.features import (
        hydrate_pairs,
    )

    cols = ["norm_url", "norm_title", "tokens_bin", "sig_bin"]
    return (
        hydrate_pairs(pairs.orderBy("id_a", "id_b").limit(n), keyed)
        .select(*[f"{c}_{s}" for c in cols for s in "ab"])
        .toPandas()
    )


def _rate(fn, rows: int, min_s: float = 0.2) -> float:
    """Rows per second of fn() over `rows` rows: the median of at least
    three timed calls, repeated for at least min_s in total."""
    times = []
    t_end = time.perf_counter() + min_s
    while len(times) < 3 or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return rows / statistics.median(times)


def _same(got, want) -> bool:
    """Bit-for-bit equality, element by element (None == None; floats
    compared by their binary64 representation)."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if g is None or w is None:
            if (g is None) != (w is None):
                return False
        elif isinstance(w, float):
            if np.float64(g).tobytes() != np.float64(w).tobytes():
                return False
        elif isinstance(w, (list, np.ndarray)):
            if list(g) != list(w):
                return False
        elif g != w:
            return False
    return True


def _none_if_empty(t):
    return None if t is None or t == "" else t


def _token_hashset_twin(t):
    if t is None or t == "":
        return None
    toks = set(t.split())
    return np.array(
        sorted(zlib.crc32(x.encode("utf-8")) for x in toks), dtype=np.uint32
    ).tobytes()


def _hashset_jaccard_twin(a, b) -> float:
    if not a or not b:
        return 0.0
    sa = set(np.frombuffer(a, dtype=np.uint32).tolist())
    sb = set(np.frombuffer(b, dtype=np.uint32).tolist())
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter) if inter else 0.0


def _packed_sig_twin(a, b) -> float:
    if not a or not b or len(a) != len(b):
        return 0.0
    return float(np.mean(np.frombuffer(a, np.uint32) == np.frombuffer(b, np.uint32)))


def measure(pages: pd.DataFrame, pairs: pd.DataFrame) -> tuple[dict[str, float], list[str]]:
    """-> ({kernel.<name>_rows_per_s: value}, [kernels whose batch output
    differs from the scalar twin])."""
    html = pages["html"].map(lambda b: None if b is None else bytes(b))
    text = pages["norm_text"].map(_none_if_empty)
    sigs = mh.batch_minhash(text)
    p = {c: pairs[c] for c in pairs.columns}
    for c in ("tokens_bin_a", "tokens_bin_b", "sig_bin_a", "sig_bin_b"):
        p[c] = p[c].map(lambda b: None if b is None else bytes(b))
    # the engine scores Jaro-Winkler on both the titles and the urls
    jw_a = pd.concat([p["norm_title_a"], p["norm_url_a"]], ignore_index=True)
    jw_b = pd.concat([p["norm_title_b"], p["norm_url_b"]], ignore_index=True)
    n_pages, n_pairs = len(pages), len(pairs)

    runs = {
        "extract_title": (lambda: N.batch_extract_title(html), n_pages),
        "minhash": (lambda: mh.batch_minhash(text), n_pages),
        "simhash": (lambda: mh.batch_simhash(text), n_pages),
        "token_hashset": (lambda: mh.batch_token_hashset(pages["norm_text"]), n_pages),
        "band_hashes": (lambda: mh.batch_band_hashes(sigs), n_pages),
        "jaro_winkler": (lambda: sim.batch_jaro_winkler(jw_a, jw_b), len(jw_a)),
        "hashset_jaccard": (
            lambda: sim.batch_hashset_jaccard(p["tokens_bin_a"], p["tokens_bin_b"]),
            n_pairs,
        ),
        "packed_sig_sim": (
            lambda: sim.batch_packed_sig_similarity(p["sig_bin_a"], p["sig_bin_b"]),
            n_pairs,
        ),
    }
    speeds = {f"kernel.{k}_rows_per_s": _rate(fn, rows) for k, (fn, rows) in runs.items()}

    k = PARITY_ROWS
    head = lambda s: s.iloc[:k].reset_index(drop=True)  # noqa: E731
    t, h = head(text), head(html)
    pa = {c: head(v) for c, v in p.items()}
    ja = pd.concat([pa["norm_title_a"], pa["norm_url_a"]], ignore_index=True)
    jb = pd.concat([pa["norm_title_b"], pa["norm_url_b"]], ignore_index=True)
    str_ = lambda x: "" if x is None or (isinstance(x, float) and math.isnan(x)) else str(x)  # noqa: E731
    checks = {
        "extract_title": (N.batch_extract_title(h), [N.extract_title(x) for x in h]),
        "minhash": (mh.batch_minhash(t), [mh.minhash_signature(x) for x in t]),
        "simhash": (
            [None if pd.isna(v) else int(v) for v in mh.batch_simhash(t)],
            [mh.simhash64(x) for x in t],
        ),
        "token_hashset": (
            mh.batch_token_hashset(head(pages["norm_text"])),
            [_token_hashset_twin(x) for x in head(pages["norm_text"])],
        ),
        "band_hashes": (
            mh.batch_band_hashes(head(sigs)),
            [mh.band_hashes(s) for s in head(sigs)],
        ),
        "jaro_winkler": (
            sim.batch_jaro_winkler(ja, jb).tolist(),
            [sim.jaro_winkler_similarity(str_(a), str_(b)) for a, b in zip(ja, jb)],
        ),
        "hashset_jaccard": (
            sim.batch_hashset_jaccard(pa["tokens_bin_a"], pa["tokens_bin_b"]).tolist(),
            [_hashset_jaccard_twin(a, b) for a, b in zip(pa["tokens_bin_a"], pa["tokens_bin_b"])],
        ),
        "packed_sig_sim": (
            sim.batch_packed_sig_similarity(pa["sig_bin_a"], pa["sig_bin_b"]).tolist(),
            [_packed_sig_twin(a, b) for a, b in zip(pa["sig_bin_a"], pa["sig_bin_b"])],
        ),
    }
    mismatched = [name for name, (got, want) in checks.items() if not _same(list(got), want)]
    return speeds, mismatched
