"""Deep randomized fuzz over the STREAM-vs-BATCH twin equalities.

tests/test_streaming_io.py pins every streaming twin bit-equal to its
batch counterpart on ONE fixed corpus (sf0.001 or a crafted frame);
this drives the same pairings over N seeded random corpora with the
fuzz nastiness menu — NULL doc_id/text/lang/source rows (the JVM-side
null gate the twins must apply to match batch IS NOT NULL semantics),
empty strings, unicode, duplicate texts, NULL/boundary/duplicate
timestamps, malformed JSON props, multi-file layouts (1-3 parquet
parts; the file source takes one file per trigger, so layout fuzzes
the micro-batch split too).

The comparison is exact row-set equality over the columns each
pytest pin compares, except `sessionize` which keeps its documented
containment contract (emitted sessions ⊆ batch sessions; only
sessions inside the watermark horizon may be pending).

Deliberately EXCLUDED:
- stream_dedup_exact / stream_near_dedup: cross-batch FIRST-wins state
  — which duplicate survives depends on arrival order, so random
  multi-file layouts legitimately pick different survivors; their
  state semantics are pinned with controlled per-file triggers in
  tests/test_streaming_io.py.
- stream_ann_topk / stream_ivf_topk: operating-point completeness
  arguments measured on the real testdata (the deep_fuzz_emb
  exclusion rationale).
- stream_embedding_drift: its pin is a multi-facet rebuild check, not
  a row-set equality; covered by the dedicated pytest pin.
- stream_warc_ingest: binary crafted-WARC source, covered by the
  byte-exact round-trip pins.

A failure prints the corpus seed for replay; per the window contract a
hole in frozen batch code gets a strict-xfail pin + a named fix in the
next round's checklist (stream-side-only code is pytest surface and
may be fixed in-round).

Usage: python tools/deep_fuzz_stream.py [n_corpora] [seed0]
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))

from pyspark.sql import functions as F  # noqa: E402

from resin_spark.session import get_spark  # noqa: E402

# word pool includes the BM25/phrase lockstep query terms so lexical
# twins score real hits, plus the usual nastiness
_WORDS = ["alpha", "beta", "gamma", "delta", "the", "a", "of", "x1",
          "７漢", "café", "...", "a.b.c", "", "merge", "sort", "window",
          "naïve", "&amp;", "�", "ZZZ", "merge sort", "45",
          "404156°N"]
_ETYPES = ["click", "view", "purchase", "signup", None]
_PROPS = ['{"k": 1}', '{"k": "v", "n": 2.5}', "{}", "not json", "", None,
          '{"nested": {"a": [1, 2]}}']
_EPOCH = dt.datetime(2026, 1, 1)

DOCS_SCHEMA = ("doc_id long, text string, lang string, source string, "
               "n_chars long")
EVENTS_SCHEMA = ("event_id long, ts timestamp, user_id long, "
                 "event_type string, value double, props string")


def _doc_rows(rng: random.Random, n_lo=4, n_hi=28):
    n = rng.randint(n_lo, n_hi)
    # ids 398/399 are reserved for the guaranteed trainable core below:
    # doc_id uniqueness is the generated-data contract the real tables
    # hold (rel-fuzz convention) — a duplicated id is NOT a legal fuzz
    # input (per-row stream scoring vs the batch groupBy(doc_id) would
    # legitimately differ on it; found at seed 13207)
    ids = rng.sample(range(0, 398), n)
    rows, pool = [], []
    for i in ids:
        r = rng.random()
        if r < 0.08:
            text = None
        elif r < 0.16 and pool:
            text = rng.choice(pool)  # exact duplicate
        elif r < 0.24 and pool:
            text = (rng.choice(pool) or "") + " " + rng.choice(_WORDS)
        else:
            text = " ".join(rng.choices(_WORDS, k=rng.randint(0, 24)))
        if text is not None:
            pool.append(text)
        did = None if rng.random() < 0.07 else i  # NULL id: gate stress
        rows.append((did, text, rng.choice(["en", "de", None]),
                     rng.choice(["s0", "s1", "s2", None]),
                     len(text) if text is not None else None))
    # guarantee a trainable core: >=2 docs with id+text+lang+source and
    # real token mass (LM/NB/BM25 models need a non-degenerate corpus)
    rows[0] = (398, "merge sort window the of alpha beta merge sort",
               "en", "s0", 46)
    rows[1] = (399, "der the of gamma delta window sort alpha beta",
               "de", "s1", 45)
    return rows


def _ts(rng):
    if rng.random() < 0.12:
        return None
    base = _EPOCH + dt.timedelta(hours=rng.randint(0, 72))
    if rng.random() < 0.5:
        return base  # hour boundary / duplicate magnet
    return base + dt.timedelta(seconds=rng.randint(0, 3599))


def _event_rows(rng: random.Random):
    return [(i, _ts(rng), rng.choice([None, 1, 2, 3, 42]),
             rng.choice(_ETYPES),
             rng.choice([None, 0.0, -1.0, 2.5, float(rng.randint(0, 9))]),
             rng.choice(_PROPS))
            for i in range(rng.randint(1, 40))]


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "nan"
    return repr(v)


def _write(spark, rows, schema, d, rng):
    df = spark.createDataFrame(rows, schema)
    df.coalesce(rng.randint(1, 3)).write.mode("overwrite").parquet(d)
    return spark.read.parquet(d)


def _drain(spark, sdf, name, mode):
    ck = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    q = (sdf.writeStream.format("memory").queryName(name)
         .outputMode(mode).trigger(availableNow=True)
         .option("checkpointLocation", ck).start())
    # availableNow self-terminates when caught up, but
    # awaitTermination(t) returns False on timeout instead of raising —
    # reading the memory sink then compares a HALF-DRAINED table and
    # reports a phantom twin divergence (seen once under full-machine
    # load in the r8 five-harness chain; unreproducible idle). A slow
    # drain is a harness error, never a twin finding: make it loud.
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError(f"stream {name} did not drain in 600s "
                           "(machine overloaded? rerun idle)")
    out = spark.sql(f"SELECT * FROM {name}")
    shutil.rmtree(ck, ignore_errors=True)
    return out


def _rowset(df, cols):
    return sorted(tuple(_norm(r[c]) for c in cols) for r in df.collect())


def main() -> None:  # noqa: C901 — one twin block per pairing, linear
    n_corpora = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    seed0 = int(sys.argv[2]) if len(sys.argv) > 2 else 13001

    from resin_spark.functions.text import tokens as text_tokens
    from resin_spark.operators import health, multimodal as mm
    from resin_spark.operators import pipeline as pl
    from resin_spark.operators import sketch as sk
    from resin_spark.operators import textops as tx
    from resin_spark.operators import traindata as td
    from resin_spark.streaming import events as sev
    from resin_spark.streaming import quality as sq

    spark = get_spark("deep-fuzz-stream")
    failures = []

    def check(seed, name, got_rows, want_rows, containment=False):
        try:
            if containment:
                want = dict()
                for r in want_rows:
                    want[r[:-1]] = r[-1]
                for r in got_rows:
                    assert r[:-1] in want and want[r[:-1]] == r[-1], r
            else:
                assert got_rows == want_rows, (
                    [p for p in zip(got_rows, want_rows) if p[0] != p[1]][:3]
                    if len(got_rows) == len(want_rows)
                    else (len(got_rows), len(want_rows)))
        except Exception as e:  # noqa: BLE001 — report + continue
            failures.append((seed, name, str(e)[:200]))
            print(f"FAIL seed={seed} twin={name}: {str(e)[:200]}")

    for c in range(n_corpora):
        seed = seed0 + c
        rng = random.Random(seed)
        d = tempfile.mkdtemp(prefix=f"dfs_{seed}_")
        tag = f"s{seed}"

        docs = _write(spark, _doc_rows(rng), DOCS_SCHEMA, f"{d}/docs", rng)
        ev = _write(spark, _event_rows(rng), EVENTS_SCHEMA,
                    f"{d}/events", rng)
        t = {"documents": docs}
        docs_id = docs.filter("doc_id IS NOT NULL")
        n_twins = 0

        # --- events twins --------------------------------------------
        cols = ["hour_start", "event_type", "n_events", "sum_value"]
        check(seed, "hourly_rollup",
              _rowset(_drain(spark, sev.stream_hourly_rollup(
                  spark, f"{d}/events"), f"hr_{tag}", "complete"), cols),
              _rowset(sev.hourly_rollup({"events": ev}), cols))
        n_twins += 1

        # sessionize reads a SINGLE-FILE copy (one micro-batch): with a
        # random multi-file layout, a later file whose max event time
        # regresses >1min behind an earlier file's gets its events
        # DROPPED by the watermark — correct streaming late-data
        # semantics, but it reshapes sessions (fewer events / later
        # start) so the ⊆-batch containment contract flakes by design
        # (seed 14202 under machine load; file→micro-batch assignment
        # is not deterministic). Multi-batch arrival-order session
        # semantics are pinned with CONTROLLED per-file triggers in
        # tests/test_streaming_io.py — the dedup_exact exclusion
        # rationale applied to late data.
        ev.coalesce(1).write.mode("overwrite").parquet(f"{d}/events_1f")
        cols = ["user_id", "session_start", "n_events"]
        check(seed, "sessionize",
              _rowset(_drain(spark, sev.stream_sessionize(
                  spark, f"{d}/events_1f", watermark="1 minute"),
                  f"sess_{tag}", "append"), cols),
              _rowset(sev.sessionize({"events": ev}), cols),
              containment=True)
        n_twins += 1

        cols = ["event_type", "bucket", "m"]
        check(seed, "hll_registers",
              _rowset(_drain(spark, sev.stream_hll_registers(
                  spark, f"{d}/events"), f"hll_{tag}", "complete"), cols),
              _rowset(sk.hll_registers(
                  ev.filter("user_id IS NOT NULL")), cols))
        n_twins += 1

        cols = ["j", "c", "cnt"]
        check(seed, "cms_counters",
              _rowset(_drain(spark, sev.stream_cms_counters(
                  spark, f"{d}/docs"), f"cms_{tag}", "complete"), cols),
              _rowset(sk.cms_counters(
                  docs_id.select(F.explode(
                      text_tokens("text")).alias("tok"))), cols))
        n_twins += 1

        # --- scoring twins (frozen model = the same corpus) ----------
        cols = ["doc_id", "n_tokens", "bits_per_token"]
        check(seed, "quality_score",
              _rowset(_drain(spark, sq.stream_quality_score(
                  spark, f"{d}/docs", docs), f"q_{tag}", "append"), cols),
              _rowset(td.quality_perplexity(t), cols))
        n_twins += 1

        cols = ["doc_id", "n_tokens", "bits_total"]
        check(seed, "quality_score_bigram",
              _rowset(_drain(spark, sq.stream_quality_score_bigram(
                  spark, f"{d}/docs", docs), f"qb_{tag}", "append"), cols),
              _rowset(td.quality_perplexity_bigram(t), cols))
        n_twins += 1

        cols = ["doc_id", "true_lang", "pred_lang", "best_bits", "correct"]
        check(seed, "lang_classify",
              _rowset(_drain(spark, sq.stream_lang_classify(
                  spark, f"{d}/docs", docs), f"nb_{tag}", "append"), cols),
              _rowset(td.nb_lang_classify(t), cols))
        n_twins += 1

        cols = ["doc_id", "n_hits", "score"]
        check(seed, "bm25_score",
              _rowset(_drain(spark, sq.stream_bm25_score(
                  spark, f"{d}/docs", docs), f"bm_{tag}", "append"), cols),
              _rowset(tx.bm25_scores(t), cols))
        n_twins += 1

        # a repeated query term is one term on both faces
        dup_q = ("merge", "sort", "merge")
        check(seed, "bm25_score_dup_term",
              _rowset(_drain(spark, sq.stream_bm25_score(
                  spark, f"{d}/docs", docs, query=dup_q), f"bmd_{tag}",
                  "append"), cols),
              _rowset(tx.bm25_scores(t, query=dup_q), cols))
        n_twins += 1

        cols = ["doc_id", "n_occurrences", "n_tokens"]
        check(seed, "phrase_match",
              _rowset(_drain(spark, sq.stream_phrase_match(
                  spark, f"{d}/docs"), f"ph_{tag}", "append"), cols),
              _rowset(tx.phrase_search(t, k=10_000), cols))
        n_twins += 1

        # --- governance / card twins ---------------------------------
        flags = health.encoding_anomaly_flags(docs_id)
        cols = flags.columns
        check(seed, "encoding_anomalies",
              _rowset(_drain(spark, sq.stream_encoding_anomalies(
                  spark, f"{d}/docs"), f"an_{tag}", "append"), cols),
              _rowset(flags.filter(
                  F.col("n_repl") + F.col("n_ctrl") + F.col("n_moji") > 0),
                  cols))
        n_twins += 1

        standing = docs_id.filter("doc_id % 2 = 0")
        arriving = docs_id.filter("doc_id % 2 = 1")
        arriving.coalesce(1).write.mode("overwrite").parquet(f"{d}/odd")
        known = {r["ch"] for r in
                 td.cdc_chunks(standing).select("ch").distinct().collect()}
        want = sorted(
            (_norm(r["doc_id"]), _norm(r["chunk_no"]), _norm(r["ch"]),
             _norm(r["ch"] in known))
            for r in td.cdc_chunks(arriving).collect())
        got_df = _drain(spark, sq.stream_cdc_flags(
            spark, f"{d}/odd", standing), f"cdc_{tag}", "append")
        check(seed, "cdc_flags",
              sorted(tuple(_norm(v) for v in r) for r in got_df.collect()),
              want)
        n_twins += 1

        plan = pl.mixture_plan(docs_id).select("source", "sampling_rate")
        cols = ["doc_id", "source", "n_copies"]
        check(seed, "apply_mixture",
              _rowset(_drain(spark, sq.stream_apply_mixture(
                  spark, f"{d}/docs", plan), f"mx_{tag}", "append"), cols),
              _rowset(pl.apply_mixture(docs_id), cols))
        n_twins += 1

        cols = ["doc_id", "source", "split"]
        check(seed, "split_assign",
              _rowset(_drain(spark, sq.stream_split_assign(
                  spark, f"{d}/docs"), f"sp_{tag}", "append"), cols),
              _rowset(docs_id.select(
                  "doc_id", "source",
                  pl.split_of(F.col("doc_id")).alias("split")), cols))
        n_twins += 1

        # post-r7 with_payload coalesces NULL text to b'' on BOTH faces,
        # so the batch side takes the full non-null-id corpus
        cols = ["doc_id", "n_bytes", "format", "width", "height", "checksum"]
        check(seed, "mm_meta",
              _rowset(_drain(spark, sq.stream_mm_meta(
                  spark, f"{d}/docs"), f"mm_{tag}", "append"), cols),
              _rowset(mm.binary_meta({"documents": docs_id}), cols))
        n_twins += 1

        cols = ["shard", "n_docs", "n_chars", "content_sig"]
        check(seed, "shard_manifest",
              _rowset(_drain(spark, sq.stream_shard_manifest(
                  spark, f"{d}/docs"), f"sm_{tag}", "complete"), cols),
              _rowset(td.shard_manifest({"documents": docs_id}), cols))
        n_twins += 1

        # keyword half of the H15 boilerplate card (r8): complete-mode
        # running totals vs the batch card's keyword columns
        from resin_spark.operators import extract as ex
        cols = ["source", "n_lines", "n_chars", "keyword_lines",
                "keyword_char_share"]
        check(seed, "boilerplate_keywords",
              _rowset(_drain(spark, sq.stream_boilerplate_keywords(
                  spark, f"{d}/docs"), f"bk_{tag}", "complete"), cols),
              _rowset(ex.boilerplate_card(docs_id).select(*cols), cols))
        n_twins += 1

        # --- snapshot-delta twin (old = this corpus, new = mutation) -
        new_rows = _doc_rows(rng)
        new_snap = _write(spark, new_rows, DOCS_SCHEMA, f"{d}/new", rng) \
            .filter("doc_id IS NOT NULL")
        new_snap.coalesce(1).write.mode("overwrite").parquet(f"{d}/newp")
        new_read = spark.read.parquet(f"{d}/newp")
        base = docs_id
        cols = ["doc_id", "status", "old_md5", "new_md5"]
        check(seed, "corpus_delta",
              _rowset(_drain(spark, sq.stream_corpus_delta(
                  spark, f"{d}/newp", base), f"cd_{tag}", "append"), cols),
              _rowset(pl.corpus_delta(base, new_read).filter(
                  "status != 'removed'"), cols))
        n_twins += 1

        print(f"corpus seed={seed}: {n_twins} stream twins checked")

    print(f"\n{n_corpora} corpora: {len(failures)} failures")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
