"""The vector layer reads one schema: the corpus is (vec_id, embedding)
and the queries are (query_id, q_vec), and the LSH store hashes with one
hyperplane family at the measured vector width.

No Spark: the public functions of the vector modules are parsed, not
run. None may take a column-name, width or hyperplane-seed parameter,
except the two that serve two real callers with two values:
``valid_vectors`` gates both the corpus and the query column, and
``hyperplane_buckets_udf`` hashes the LSH store (seed 7) and the
self-join threshold candidates (seed 101)."""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

MODULES = (
    "resin_spark/operators/similarity.py",
    "resin_spark/operators/validate.py",
    "resin_spark/operators/retrieval.py",
    "resin_spark/streaming/vectors.py",
)
FORBIDDEN = {"id_col", "vec_col", "q_id", "q_vec", "seed0", "dims"}
EXEMPT = {"valid_vectors", "hyperplane_buckets_udf"}


def _public_params(path: str):
    tree = ast.parse(open(os.path.join(REPO, path)).read(), path)
    for node in tree.body:
        if (isinstance(node, ast.FunctionDef)
                and not node.name.startswith("_")):
            a = node.args
            for arg in a.posonlyargs + a.args + a.kwonlyargs:
                yield node.name, arg.arg


def test_vector_functions_take_no_schema_knobs():
    params = [(path, fn, param) for path in MODULES
              for fn, param in _public_params(path)]
    # the scan must reach the operators the contract is about
    assert {"brute_topk", "lsh_topk", "write_ann_index",
            "validate_ann_index", "stream_ann_topk",
            "mmr_rerank"} <= {fn for _, fn, _ in params}
    offenders = [f"{path}:{fn}({param})" for path, fn, param in params
                 if param in FORBIDDEN and fn not in EXEMPT]
    assert not offenders, offenders
