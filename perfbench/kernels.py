"""Standalone kernel throughput: the numpy/Python bodies behind the UDFs,
timed without Spark on fixed in-memory batches cut from the workload's
generated texts."""

from __future__ import annotations

import time

import numpy as np

from stats import median

KERNELS = ("token_vectors", "accumulate_token_features", "analyze_signatures",
           "knuth_hash", "html_main_text")
BATCH_DOCS = 500
REPEATS = 5


def _rate(fn, rows: int) -> float:
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return rows / median(times)


def rows_per_s(texts: list[str]) -> dict[str, float]:
    """``kernel.<fn>.rows_per_s`` for every kernel; rows are tokens for
    the token kernels, vectors for analyze_signatures, documents for the
    string kernels. Empty ``texts`` (a workload without text) gives 0."""
    if not texts:
        return {f"kernel.{k}.rows_per_s": 0.0 for k in KERNELS}
    import pandas as pd

    from resin_spark.functions import hashing
    from resin_spark.operators import extract

    docs = texts[:BATCH_DOCS]
    tokens = [w for d in docs for w in d.split()]
    owners = np.array([i for i, d in enumerate(docs) for _ in d.split()], np.int64)
    m = hashing.token_vectors(tokens[:2000], 512)
    u = np.linspace(0.5, 1.5, 512)
    series = pd.Series(docs)
    html = [f"<html><body><h1>doc</h1><p>{d}</p><p>{d[::-1]}</p></body></html>"
            for d in docs]
    rates = {
        "token_vectors": _rate(lambda: hashing.token_vectors(tokens, 512), len(tokens)),
        "accumulate_token_features": _rate(
            lambda: hashing.accumulate_token_features(tokens, owners, len(docs), 512),
            len(tokens)),
        "analyze_signatures": _rate(lambda: hashing.analyze_signatures(m, u), len(m)),
        # knuth_hash is a pandas_udf; .func is its Python body
        "knuth_hash": _rate(lambda: hashing.knuth_hash.func(series), len(docs)),
        "html_main_text": _rate(lambda: [extract.html_main_text(h) for h in html],
                                len(html)),
    }
    return {f"kernel.{k}.rows_per_s": v for k, v in rates.items()}
