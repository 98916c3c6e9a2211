"""Mechanical sf1 regression gate (r10 — the BASELINE.md two-tier
methodology's cost-leader half, as ONE command).

Re-measures every standing sf1 row (the r8-r10 decade-step readings
in SCALING.md, consolidated here with the same corpora axes and
min-of-2-after-warm methodology) and compares each against the
committed expectation in BASELINE_SF1.json at the 1.5x gate. The 10x
corpus builders below are the ones those sweeps used, so the gate
keeps measuring the same corpora.

Usage:
  python tools/check_sf1_gate.py            # measure, compare, exit 1 on breach
  python tools/check_sf1_gate.py --write    # measure and REWRITE BASELINE_SF1.json
  python tools/check_sf1_gate.py <prefix..> # only entries matching a prefix

Don't run concurrently with bench.py or another Spark job — both build
their session with get_spark, whose local[$SPARK_GRAFT_CPUS or *]
master takes every core, and the point of the sf1 tier is
session-stable numbers.
index_validate is not gated here by design (I/O-dominated scratch
writes; SCALING.md's r5 validator sweep). dedup_embedding's expectation
carries the pair-volume adjudication (SCALING.md r10) — its gate
compares wall like every other row; the axis is fixed so the pair
volume is too.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from resin_spark.io import load_tables, read_warc, warc_segment_bytes
from resin_spark.operators import (dedup, extract, health, kv, pipeline,
                                   retrieval, similarity, textindex as ti,
                                   textops, traindata)
from resin_spark.plans import tpch
from resin_spark.session import get_spark, memo

GATE = 1.5
EXPECT_PATH = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "BASELINE_SF1.json")

M = 10
DOC_OFFSET = 10_000_000
VEC_OFFSET = 10_000_000
KEY_OFFSET = 100_000_000


def docs_10x(docs):
    out = docs
    for r in range(1, M):
        out = out.unionByName(
            docs.withColumn("doc_id", F.col("doc_id") + r * DOC_OFFSET)
            .withColumn("text", F.concat_ws(" ", "text",
                                            F.lit(f"replica{r}"))))
    return out.localCheckpoint(eager=True)


def emb_10x(emb, dims: int = 64):
    """Replica r's vectors shift along basis direction (r mod dims) by
    2.0 (the testdata vectors are ~unit scale), so cross-replica cosine
    falls well below the semantic thresholds while within-replica
    neighborhoods survive."""
    out = emb
    for r in range(1, M):
        j = r % dims
        out = out.unionByName(
            emb.withColumn("vec_id", F.col("vec_id") + r * VEC_OFFSET)
            .withColumn(
                "embedding",
                F.transform(
                    "embedding",
                    lambda x, i: (x + F.when(i == F.lit(j), F.lit(2.0))
                                  .otherwise(F.lit(0.0))).cast("float"),
                )))
    return out.localCheckpoint(eager=True)


def rep10(df, *key_cols):
    """10x replication with coherent key offsets: every replica's keys
    shift together, so join/semi/anti match structure per replica is
    identical to the 1x corpus (pair volume grows linearly)."""
    out = df
    for r in range(1, M):
        rep = df
        for k in key_cols:
            rep = rep.withColumn(k, F.col(k) + r * KEY_OFFSET)
        out = out.unionByName(rep)
    return out.localCheckpoint(eager=True)


def _crawl(root: str, n_segments: int, pages_per_seg: int) -> str:
    """Synthetic member-gzip crawl (shared nav/footer chrome +
    page-unique prose)."""
    chrome = ("<nav>" + " | ".join(f'<a href="/s{k}">Section {k}</a>'
                                   for k in range(8)) + "</nav>")
    footer = ('<footer>All rights reserved - <a href="/p">Privacy</a>'
              "</footer>")
    para = ("the quick brown fox jumps over the lazy dog while a "
            "crawler collects paragraphs of visible text ")
    os.makedirs(root, exist_ok=True)
    for seg in range(n_segments):
        recs = []
        for i in range(pages_per_seg):
            body = ("<html><head><title>P%d-%d</title></head><body>%s%s%s"
                    "</body></html>" % (
                        seg, i, chrome,
                        "".join(f"<p>{para * 3} #{seg}-{i}-{k}</p>"
                                for k in range(8)),
                        footer)).encode()
            recs.append((f"https://host{seg}.example/p{i}",
                         b"HTTP/1.1 200 OK\r\nContent-Type: text/html; "
                         b"charset=utf-8\r\n\r\n" + body))
        with open(os.path.join(root, f"seg-{seg:05d}.warc.gz"), "wb") as fh:
            fh.write(warc_segment_bytes(recs))
    return os.path.join(root, "*.warc.gz")


def timed(fn):
    """min-of-2 after a discarded warm run (bench.py methodology)."""
    fn()
    best = None
    for _ in range(2):
        t0 = time.monotonic()
        fn()
        el = time.monotonic() - t0
        best = el if best is None else min(best, el)
    return best


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    write = "--write" in sys.argv
    prefixes = [a for a in sys.argv[1:] if not a.startswith("--")]
    spark = get_spark("check-sf1-gate")
    spark.sparkContext.setLogLevel("ERROR")
    lt = load_tables(spark, "/root/testdata/sf0.1")
    d1 = lt["documents"].filter(F.col("doc_id").isNotNull()) \
        .localCheckpoint(eager=True)
    e1 = lt["embeddings"].localCheckpoint(eager=True)
    d10, e10 = docs_10x(d1), emb_10x(e1)
    or10 = rep10(lt["orders"].localCheckpoint(eager=True),
                 "o_orderkey", "o_custkey")
    li10 = rep10(lt["lineitem"].localCheckpoint(eager=True), "l_orderkey")
    cu10 = rep10(lt["customer"].localCheckpoint(eager=True), "c_custkey")
    t10 = {"documents": d10, "embeddings": e10, "orders": or10,
           "lineitem": li10, "customer": cu10}

    scratch = tempfile.mkdtemp(prefix="resin_sf1_gate_")

    def qvecs(emb):
        return emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_vec"))

    def lsh_probe():
        idx = f"{scratch}/ann10"
        if not os.path.exists(idx):
            similarity.write_ann_index(e10, idx, n_planes=6, n_tables=8)
        return similarity.lsh_topk_indexed(
            similarity.read_ann_index(spark, idx), qvecs(e10),
            n_planes=6, n_tables=8, probe_radius=2)

    def pq_probe():
        idx = f"{scratch}/pq10"
        if not os.path.exists(idx):
            similarity.write_pq_index(e10, idx)
        codes, books = similarity.read_pq_index(spark, idx)
        return similarity.pq_topk_indexed(codes, books, qvecs(e10), e10,
                                          rerank=50)

    def bm25_build():
        shutil.rmtree(f"{scratch}/bm25", ignore_errors=True)
        ti.write_text_index(d10, f"{scratch}/bm25")

    def bm25_probe():
        if not os.path.exists(f"{scratch}/bm25"):
            ti.write_text_index(d10, f"{scratch}/bm25")
        ti.bm25_topk_indexed(spark, f"{scratch}/bm25").collect()

    def dedup_incr_probe():
        idx = f"{scratch}/dedupidx10"
        if not os.path.exists(idx):
            dedup.write_dedup_index(
                d10.filter(F.col("doc_id") % 2 == 0), idx)
        idx_hashes, idx_bands = dedup.read_dedup_index(spark, idx)
        return noop(dedup.incremental_dedup_indexed(
            d10.filter(F.col("doc_id") % 2 == 1), idx_hashes, idx_bands))

    warc_glob = None

    def warc_boiler():
        nonlocal warc_glob
        if warc_glob is None:
            warc_glob = _crawl(os.path.join(scratch, "crawl"), 50, 100)
        docs = extract.warc_extract_text(read_warc(spark, warc_glob))
        return extract.boilerplate_card(docs)

    # Shared pair relations in the session memo, as the driver entries
    # share theirs (r11, VERDICT r9 item 4): the warm run pays the
    # one-time localCheckpoint build, the timed runs price the steady
    # state — the same "bench reruns time the query" economics as the
    # persisted-index entries. The honest pair-stage cost stays priced
    # by the dedup_ngram_jaccard / dedup_embedding rows, which
    # deliberately do NOT share the memo.
    def _jp():
        return memo(spark, ("sf1_gate", "jp"),
                    lambda: dedup.ngram_jaccard_pairs(
                        d10, pipeline.LEAK_N,
                        pipeline.LEAK_TAU).localCheckpoint(eager=True))

    def _ep():
        return memo(spark, ("sf1_gate", "ep"),
                    lambda: dedup.embedding_dedup_pairs(
                        e10, pipeline.SEM_LEAK_TAU).localCheckpoint(eager=True))

    # entry -> zero-arg thunk running the sf1-scale job end-to-end.
    # Same operating points as the recorded sweeps (SCALING.md r8-r10).
    ROWS: dict[str, callable] = {
        "split_governance_card": lambda: noop(pipeline.split_governance_card(
            t10, jaccard_pairs=_jp(), embedding_pairs=_ep())),
        "curation_tuning_card": lambda: noop(pipeline.curation_tuning_card(t10)),
        "cluster_split": lambda: noop(pipeline.cluster_split(d10, pairs=_jp())),
        "dataset_card_typed": lambda: noop(pipeline.dataset_card_typed(t10)),
        "dedup_ngram_jaccard": lambda: noop(dedup.ngram_jaccard_pairs(d10)),
        "dedup_simhash": lambda: noop(dedup.simhash_pairs(d10)),
        "health_card_typed": lambda: noop(health.health_card_typed(t10)),
        "dedup_embedding": lambda: noop(dedup.embedding_dedup_pairs(e10)),
        "dedup_components": lambda: noop(dedup.dedup_components(d10)),
        "semantic_dedup": lambda: noop(dedup.semantic_dedup(e10)),
        "hybrid_search_rrf": lambda: noop(retrieval.hybrid_search_demo(t10)),
        "dedup_minhash_lsh": lambda: noop(dedup.minhash_lsh_pairs(d10)),
        "kmeans_refine": lambda: noop(traindata.kmeans_refine(e10)),
        "bm25 index build": bm25_build,
        "dedup_incremental": lambda: noop(dedup.incremental_dedup(d10)),
        "importance_weights": lambda: noop(traindata.importance_weights(t10)),
        "nb_lang_classify": lambda: noop(traindata.nb_lang_classify(t10)),
        "domain_mix": lambda: noop(pipeline.domain_mix(t10)),
        "ann lsh indexed probe": lambda: noop(lsh_probe()),
        "ann pq indexed probe": lambda: noop(pq_probe()),
        "kv_paginate": lambda: noop(kv.paginate(li10.select(
            F.col("l_orderkey").alias("key"),
            F.col("l_linenumber").alias("seq")))),
        "warc boilerplate_card": lambda: noop(warc_boiler()),
        "shard_manifest": lambda: noop(traindata.shard_manifest(t10)),
        "q4_order_priority": lambda: noop(tpch.q4_order_priority(t10)),
        "q22_idle_customers": lambda: noop(tpch.q22_idle_customers(t10)),
        "bm25 indexed probe": bm25_probe,
        # r12 additions (VERDICT r11 item 6): the r11-optimized shapes
        # not yet gated — the join-free bm25 scorer on the fresh path
        # and the row-local contamination totals — plus the indexed
        # incremental-dedup face, so their new plan shapes carry
        # 1.5x-regression protection at the decade tier.
        "bm25_search": lambda: noop(textops.bm25_search(t10)),
        "contamination_check": lambda: noop(
            pipeline.contamination_check(t10)),
        "dedup_incremental_indexed": dedup_incr_probe,
    }
    if prefixes:
        ROWS = {k: v for k, v in ROWS.items()
                if any(k.startswith(p) for p in prefixes)}

    expect = {}
    if os.path.exists(EXPECT_PATH):
        expect = json.load(open(EXPECT_PATH)).get("sf1_sec", {})

    got, breaches = {}, []
    print("| entry | expected (s) | measured (s) | ratio | verdict |")
    print("|---|---|---|---|---|")
    try:
        for name, thunk in ROWS.items():
            sec = timed(thunk)
            got[name] = round(sec, 2)
            exp = expect.get(name)
            if exp is not None:
                ratio = sec / exp
                verdict = "OK" if ratio <= GATE else "BREACH"
                if ratio > GATE:
                    breaches.append(name)
                print(f"| {name} | {exp:.2f} | {sec:.2f} | {ratio:.2f}x "
                      f"| {verdict} |", flush=True)
            else:
                print(f"| {name} | - | {sec:.2f} | - | NEW |", flush=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        spark.stop()

    if write:
        # MERGE into the committed file (ADVICE r10): a --write combined
        # with prefix args must not discard the unmeasured rows'
        # expectations, and the committed methodology string survives a
        # refresh so diffs stay number-only.
        base = {"gate": GATE,
                "methodology": "tools/check_sf1_gate.py's own full run "
                               "(fixed row order, min-of-2 after a "
                               "discarded warm run per row, fresh quiet "
                               "local[32] session) — expectations and "
                               "re-measures share the methodology, so "
                               "ratios are apples-to-apples; the "
                               "SCALING.md sweep tables remain the "
                               "decade-ratio evidence",
                "sf1_sec": {}}
        if os.path.exists(EXPECT_PATH):
            base = json.load(open(EXPECT_PATH))
        base["sf1_sec"] = {**base.get("sf1_sec", {}), **got}
        json.dump(base, open(EXPECT_PATH, "w"), indent=1, sort_keys=True)
        print(f"wrote {EXPECT_PATH} ({len(got)} rows updated, "
              f"{len(base['sf1_sec'])} total)")
    print(f"breaches (> {GATE}x): {breaches or 'none'}")
    sys.exit(1 if breaches and not write else 0)


if __name__ == "__main__":
    main()
