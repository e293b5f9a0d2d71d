"""Query-surface contract tests: the registry is consistent with the driver
interface and every query runs at smoke scale. Full value parity vs DuckDB is
exercised by tools/oracle_check.py (and the driver at sf0.01); here we pin
structural invariants and a few known-answer spot checks.
"""

from __future__ import annotations

import pytest

from octopusdb_spark.queries import ORACLE_SQL, REGISTRY


def test_registry_shape():
    assert len(REGISTRY) >= 40
    # every oracle refers to a registered query
    assert set(ORACLE_SQL) <= set(REGISTRY)
    # hash-checkable coverage should be (near-)total
    assert len(ORACLE_SQL) >= len(REGISTRY) - 2


@pytest.mark.parametrize(
    "name",
    [
        "kv_latest_live",
        "q1_pricing_summary",
        "graph_degrees",
        "text_stats",
        "dedup_exact",
        "sim_topk_cosine",
        "multimodal_bytes",
    ],
)
def test_query_runs_at_smoke_scale(spark, sf_dir, name):
    df = REGISTRY[name](spark, sf_dir)
    rows = df.limit(5).collect()
    assert df.columns  # stable schema
    assert rows is not None


def test_kv_latest_live_semantics(spark, sf_dir):
    """Newest-wins + tombstone + TTL: no key appears twice, no error-latest
    key appears, no expired ('view'-latest) key appears."""
    from octopusdb_spark.queries.kv_semantics import kv_entries, kv_live
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    live = {r["key"]: r for r in kv_live(spark, sf_dir).collect()}
    assert len(live) > 0
    ent = kv_entries(spark, sf_dir)
    w = Window.partitionBy("key").orderBy(F.desc("version"), F.desc("seq"))
    newest = ent.withColumn("rn", F.row_number().over(w)).filter("rn = 1").collect()
    for r in newest:
        if r["value"] is None:  # tombstoned
            assert r["key"] not in live
        elif r["expires_at"] == 1_000_000:  # expired
            assert r["key"] not in live
        else:
            assert live[r["key"]]["version"] == r["version"]


def test_q1_aggregates_consistent(spark, sf_dir):
    df = REGISTRY["q1_pricing_summary"](spark, sf_dir).collect()
    total = sum(r["count_order"] for r in df)
    from pyspark.sql import functions as F

    from octopusdb_spark.queries.common import t

    li = t(spark, sf_dir, "lineitem")
    assert total == li.filter(F.col("l_shipdate") <= F.lit("1998-12-01").cast("timestamp")).count()
    for r in df:
        assert r["sum_disc_price"] <= r["sum_base_price"]
        assert abs(r["avg_qty"] - r["sum_qty"] / r["count_order"]) < 1e-9


def test_topk_rank_bounds(spark, sf_dir):
    rows = REGISTRY["sim_topk_cosine"](spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        ranks = sorted(x["rank"] for x in rs)
        assert ranks == list(range(1, len(rs) + 1))
        cosines = [x["cosine"] for x in sorted(rs, key=lambda x: x["rank"])]
        assert cosines == sorted(cosines, reverse=True)
        assert all(-1.000001 <= c <= 1.000001 for c in cosines)


def test_ann_recall_floors(spark):
    """ANN variants must actually find neighbors: recall vs the exact top-k
    at sf0.01 (deterministic corpus). Multi-table LSH ~0.56, untrained IVF
    nprobe=2/8 ~0.24 (the teaching baseline). The TRAINED variants run at
    the production probe budget (N_PROBE_TRAINED=6 — VERDICT r10 #3):
    the synthetic corpus is near-uniform so recall tracks probed fraction;
    measured trained-IVF 0.92 and IVF-PQ tracking the coarse bound at
    sf0.01. Production floors: ivf_kmeans >= 0.8, ivfpq >= 0.6 (the
    K/nprobe -> recall trade is documented in docs/SCALE.md); floors
    leave margin for testdata regeneration."""
    sf = "/root/testdata/sf0.01"
    exact = {(r["query_id"], r["cand_id"]) for r in REGISTRY["sim_topk_cosine"](spark, sf).collect()}
    recall = {}
    for name in (
        "sim_ann_bucketed", "sim_ann_ivf_kmeans",
        "sim_ann_pq", "sim_ann_ivfpq",
    ):
        approx = {(r["query_id"], r["cand_id"]) for r in REGISTRY[name](spark, sf).collect()}
        recall[name] = len(exact & approx) / len(exact)
    assert recall["sim_ann_bucketed"] >= 0.4, recall
    # (sim_ann_ivf — the untrained nprobe=2 teaching baseline, recall
    # ~0.24 at this scale — was retired into sim_ann_filtered in r14;
    # the 0.8 floor already pins that training beats it decisively)
    assert recall["sim_ann_ivf_kmeans"] >= 0.8, recall
    assert recall["sim_ann_pq"] >= 0.5, recall  # above the seed-codebook ~0.44
    # IVF-PQ is recall-bounded by its coarse quantizer's probes (~0.92 at
    # nprobe=6). RESIDUAL encoding with the 32-entry codebooks +
    # shortlist-100 + exact re-rank measures 0.88 (VERDICT r11 #5: was
    # 0.68 at K=16/SL=50) — nearly saturating the coarse bound. The 0.75
    # production floor leaves regeneration margin; the tracking assertion
    # pins that ADC compression stays within a whisker of the bound.
    assert recall["sim_ann_ivfpq"] >= 0.75, recall
    assert recall["sim_ann_ivfpq"] >= recall["sim_ann_ivf_kmeans"] - 0.15, recall


def test_quantized_cosine_tracks_exact(spark):
    """Int8 quantization error is small (<= ~1/254 per coordinate), so the
    quantized top-5 should largely agree with the exact top-5."""
    sf = "/root/testdata/sf0.01"
    exact = {(r["query_id"], r["cand_id"]) for r in REGISTRY["sim_topk_cosine"](spark, sf).collect()}
    quant = {(r["query_id"], r["cand_id"]) for r in REGISTRY["sim_quantized_cosine"](spark, sf).collect()}
    assert len(exact & quant) / len(exact) >= 0.8, (exact, quant)


def test_every_registered_query_executes(spark):
    """Every registry entry must at least build and execute at smoke scale —
    catches runtime breakage in queries the spot-check list doesn't cover
    (full value parity runs in tools/oracle_check.py / the driver gate)."""
    sf = "/root/testdata/sf0.001"
    failures = {}
    for name, fn in sorted(REGISTRY.items()):
        try:
            fn(spark, sf).limit(5).collect()
        except Exception as e:  # noqa: BLE001 - collecting all failures
            failures[name] = str(e).splitlines()[0][:120]
    assert not failures, failures


def test_embedding_cosine_handles_sparse_id_blocks(spark, tmp_path):
    """Block-pair GEMM with id residues that leave some blocks empty: a
    cross pair-group with an empty side must contribute nothing (not crash,
    not duplicate the diagonal). Verified against an exact numpy top-20."""
    import numpy as np
    from pyspark.sql import functions as F

    from octopusdb_spark.queries.similarity import _vec_block, q_dedup_embedding_cosine

    rng = np.random.RandomState(7)
    # only ids whose block is 0 or 2: blocks 1 and 3 empty (B=4)
    cand = spark.range(400).withColumnRenamed("id", "vec_id")
    ids = sorted(
        r["vec_id"]
        for r in cand.filter(_vec_block(F.lit(4)).isin(0, 2)).collect()
    )[:40]
    assert len(ids) == 40
    vecs = rng.randn(40, 8).astype("float32")
    rows = [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)]
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").write.parquet(
        str(tmp_path / "embeddings.parquet")
    )
    got = [
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in q_dedup_embedding_cosine(spark, str(tmp_path), n_blocks=4).collect()
    ]
    # no duplicate pairs
    assert len({(a, b) for a, b, _ in got}) == len(got) == 20
    # exact reference
    m = vecs.astype("float64")
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    c = m @ m.T
    pairs = [
        (ids[i], ids[j], c[i, j]) for i in range(40) for j in range(i + 1, 40)
    ]
    want = sorted(pairs, key=lambda p: (-p[2], p[0], p[1]))[:20]
    assert [(a, b) for a, b, _ in got] == [(a, b) for a, b, _ in want]


def test_vec_block_spreads_ids_sharing_a_stride(spark):
    """The block-pair fan-outs (SemDeDup's oversized clusters and the
    embedding-cosine GEMM) assign blocks by a hash of vec_id: ids that
    share a stride of nb — shard-encoded ids with fixed low bits — must
    spread over more than one block, or one task scores them all."""
    from pyspark.sql import functions as F

    from octopusdb_spark.queries.similarity import _vec_block

    for nb in (2, 4, 7):
        ids = spark.range(3, 3 + 64 * nb, nb).withColumnRenamed("id", "vec_id")
        blocks = {
            r["b"] for r in ids.select(_vec_block(F.lit(nb)).alias("b")).collect()
        }
        assert len(blocks) > 1, nb
        assert blocks <= set(range(nb)), nb


def test_driver_priority_window_invariant():
    """The driver's correctness gate checks the first 50 registry entries in
    insertion order; every _PRIORITY query must stay inside that window, or
    a future addition silently loses its driver correctness row."""
    from octopusdb_spark.queries import ORACLE_SQL, REGISTRY, _PRIORITY

    assert len(_PRIORITY) <= 50
    window = set(list(REGISTRY)[:50])
    missing = [n for n in _PRIORITY if n not in window]
    assert not missing, f"priority queries outside the driver window: {missing}"
    # and the whole registry stays fully oracle-checked
    assert set(ORACLE_SQL) == set(REGISTRY)


def test_pipeline_text_stage_properties(spark):
    """Semantic pins for the round-7 text stages that hash-compare alone
    wouldn't express: redaction leaves no matchable PII behind, chunking
    covers every token with the declared overlap, and the hash split is
    exhaustive and exact-fraction per source."""
    from pyspark.sql import functions as F

    from octopusdb_spark.queries.text import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        PII_CARD,
        PII_EMAIL,
        PII_IPV4,
        PII_PHONE,
        q_text_chunk_overlap,
        q_text_pii_redact,
    )

    sf = "/root/testdata/sf0.001"
    red = q_text_pii_redact(spark, sf)
    # every document was salted with at least email+ip+phone, all counted
    mins = red.agg(
        F.min("n_emails").alias("e"), F.min("n_ips").alias("i"), F.min("n_phones").alias("p")
    ).collect()[0]
    assert (mins["e"], mins["i"], mins["p"]) == (1, 1, 1)
    # the redacted text itself must contain no residual PII match: apply
    # the SHARED salt + redaction builders (the exact chain the query
    # ships) and re-scan the output with every pattern
    docs_n = red.count()
    from octopusdb_spark.queries.common import t
    from octopusdb_spark.queries.text import pii_redact, pii_salt

    scrubbed = pii_salt(t(spark, sf, "documents")).select(
        pii_redact("raw").alias("raw")
    )
    residual = scrubbed.filter(
        (F.size(F.regexp_extract_all("raw", F.lit(PII_EMAIL), F.lit(0))) > 0)
        | (F.size(F.regexp_extract_all("raw", F.lit(PII_CARD), F.lit(0))) > 0)
        | (F.size(F.regexp_extract_all("raw", F.lit(PII_IPV4), F.lit(0))) > 0)
        | (F.size(F.regexp_extract_all("raw", F.lit(PII_PHONE), F.lit(0))) > 0)
    ).count()
    assert residual == 0

    chunks = q_text_chunk_overlap(spark, sf)
    overlap = CHUNK_TOKENS - CHUNK_STRIDE
    per_doc = chunks.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.max("chunk_idx").alias("last_idx"),
        F.sum("chunk_tokens").alias("tok_sum"),
        F.max("chunk_tokens").alias("max_len"),
        F.min(
            F.when(F.col("chunk_idx") > 0, F.col("chunk_tokens"))
        ).alias("min_tail_len"),
    )
    toks = t(spark, sf, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_toks")
    )
    j = per_doc.join(toks, "doc_id")
    # chunk count = starts 0..max(n - overlap - 1, 0) step stride; every
    # token appears in >= 1 chunk (sum over chunks >= n, with overlap
    # duplicates); no chunk exceeds the window; and no non-first chunk is
    # fully contained in its predecessor (its length must exceed the
    # overlap — a shorter tail would carry zero new tokens)
    expected_chunks = (
        F.floor(F.greatest(F.col("n_toks") - overlap - 1, F.lit(0)) / CHUNK_STRIDE) + 1
    )
    bad = j.filter(
        (F.col("n_chunks") != F.col("last_idx") + 1)
        | (F.col("n_chunks") != expected_chunks)
        | (F.col("tok_sum") < F.col("n_toks"))
        | (F.col("max_len") > CHUNK_TOKENS)
        | (F.col("min_tail_len") <= overlap)
    ).count()
    assert bad == 0
    assert per_doc.count() == docs_n

    from octopusdb_spark.queries.scale_patterns import q_train_val_split

    split = q_train_val_split(spark, sf)
    per_source = split.groupBy("source").agg(
        F.sum("n_docs").alias("n"), F.sum("frac_of_source").alias("fsum")
    )
    # splits partition each source exactly (fractions sum to 1, up to the
    # per-term round(…, 6) the query applies)
    assert per_source.filter(F.abs(F.col("fsum") - 1.0) > 3e-6).count() == 0
    assert split.agg(F.sum("n_docs")).collect()[0][0] == docs_n


def test_bpe_token_counter_pinned_values(spark):
    """The BPE-ish subword counter has exact, hand-computable semantics:
    letter runs cost ceil(L/4), digit runs ceil(L/3), punctuation 1/char,
    whitespace free. Pin them so a regex or cost drift can't slip through
    the oracle unnoticed (both engines would drift together only if the
    DuckDB twin is regenerated; this pin is engine-independent)."""
    from octopusdb_spark.queries.text import bpe_token_col

    cases = [
        ("hello worldwide 12345 foo, bar!", 11),  # 2+3+2+1+1+1+1
        ("a", 1),
        ("", 0),
        ("    ", 0),  # whitespace only
        ("don't stop", 4),  # don(1) / '(1) / t(1) / stop(1)
        ("1234567890", 4),  # ceil(10/3)
        ("...", 3),  # punctuation per char
        ("abcdefgh", 2),  # one 8-letter run
    ]
    df = spark.createDataFrame([(i, s) for i, (s, _) in enumerate(cases)], "i int, text string")
    got = {r["i"]: r["n"] for r in df.select("i", bpe_token_col("text").alias("n")).collect()}
    for i, (s, want) in enumerate(cases):
        assert got[i] == want, f"{s!r}: got {got[i]}, want {want}"


def test_dup_suffix_seed_and_extend(spark, tmp_path):
    """text_dup_suffix must merge seed matches per (pair, diagonal) into
    ONE maximal run per shared substring — a 60-word paragraph shared at
    DIFFERENT offsets reports as a single 60-token run for both docs
    (flagged at the Lee-et-al. 50-token threshold), a 10-word phrase
    shared with a different partner stays its own unflagged run, and a
    doc's run count is per-(partner, diagonal), not per-seed."""
    from octopusdb_spark.queries.text import q_text_dup_suffix

    shared60 = " ".join(f"s{i:03d}" for i in range(60))
    phrase10 = " ".join(f"p{i:02d}" for i in range(10))
    docs = [
        (1, f"a1 a2 a3 a4 a5 {shared60} {phrase10}", 78),
        (2, f"b1 b2 b3 b4 b5 b6 b7 b8 b9 {shared60} c1 c2", 71),
        (3, f"d1 d2 d3 {phrase10} e1 e2 e3 e4", 17),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        docs, "doc_id long, text string, n_chars long"
    ).write.parquet(f"{sf}/documents.parquet")
    got = {r["doc_id"]: r for r in q_text_dup_suffix(spark, sf).collect()}
    assert got[1]["n_pair_runs"] == 2  # one run vs doc2, one vs doc3
    assert got[1]["longest_run_tokens"] == 60 and got[1]["flagged_50"] == 1
    assert got[2]["n_pair_runs"] == 1
    assert got[2]["longest_run_tokens"] == 60 and got[2]["flagged_50"] == 1
    assert got[3]["n_pair_runs"] == 1
    assert got[3]["longest_run_tokens"] == 10 and got[3]["flagged_50"] == 0


def test_dedup_rewrite_ownership(spark, tmp_path):
    """text_dedup_rewrite must remove a duplicated span ONLY from the
    non-owner documents (min doc_id keeps its text verbatim), remove
    exactly the covered word positions, and digest the kept words in
    original order."""
    import hashlib

    from octopusdb_spark.queries.text import q_text_dedup_rewrite

    shared = " ".join(f"s{i:02d}" for i in range(20))  # 20 words > window
    docs = [
        (1, f"a1 a2 {shared} a3", 25),          # owner: untouched
        (2, f"b1 b2 b3 b4 {shared} b5 b6", 31),  # copy: loses the 20 words
        (3, "c1 c2 c3 c4 c5", 5),                # bystander
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        docs, "doc_id long, text string, n_chars long"
    ).write.parquet(f"{sf}/documents.parquet")
    got = {r["doc_id"]: r for r in q_text_dedup_rewrite(spark, sf).collect()}

    def digest(words):
        return hashlib.md5(" ".join(words).encode()).hexdigest()

    assert got[1]["removed_words"] == 0
    assert got[1]["cleaned_digest"] == digest(docs[0][1].split(" "))
    assert got[2]["n_words"] == 26 and got[2]["removed_words"] == 20
    assert got[2]["cleaned_digest"] == digest(["b1", "b2", "b3", "b4", "b5", "b6"])
    assert got[3]["removed_words"] == 0
    assert got[3]["cleaned_digest"] == digest(["c1", "c2", "c3", "c4", "c5"])


def test_line_dedup_ownership_and_indoc(spark, tmp_path):
    """text_line_dedup must segment into 12-word lines, remove a
    cross-doc duplicated line ONLY from the non-owner (min doc_id keeps
    it), collapse within-doc repeats to the first occurrence, and digest
    the kept lines newline-joined in order."""
    import hashlib

    from octopusdb_spark.queries.text import q_text_line_dedup

    L = " ".join(f"s{i:02d}" for i in range(12))  # one exact line
    M = " ".join(f"m{i:02d}" for i in range(12))
    docs = [
        (1, f"{L} a1 a2 a3", 0),          # owner: line kept + remainder
        (2, f"{L} b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11 b12", 0),  # copy loses L
        (3, f"{M} {M} c1", 0),            # in-doc repeat: second M dropped
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        docs, "doc_id long, text string, n_chars long"
    ).write.parquet(f"{sf}/documents.parquet")
    got = {r["doc_id"]: r for r in q_text_line_dedup(spark, sf).collect()}

    def digest(lines):
        return hashlib.md5("\n".join(lines).encode()).hexdigest()

    assert got[1]["n_lines"] == 2 and got[1]["removed_lines"] == 0
    assert got[1]["cleaned_digest"] == digest([L, "a1 a2 a3"])
    assert got[2]["n_lines"] == 2 and got[2]["removed_lines"] == 1
    assert got[2]["kept_lines"] == 1
    assert got[2]["cleaned_digest"] == digest(
        ["b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11 b12"]
    )
    assert got[3]["n_lines"] == 3 and got[3]["removed_lines"] == 1
    assert got[3]["cleaned_digest"] == digest([M, "c1"])


def test_hll_sketch_linear_counting_and_accuracy(spark, tmp_path):
    """q_hll_sketch on a tiny crafted corpus must take the
    linear-counting branch (est <= 2.5m with empty registers) and land
    within a few percent of the exact count; the register checksum must
    equal an independent Python HLL over the same md5 rule; and at
    sf0.01 the raw-branch estimate stays within 3 sigma (1.04/sqrt(m))."""
    import hashlib
    import math

    from octopusdb_spark.queries.advanced import HLL_M, HLL_RHO_CAP, q_hll_sketch

    words = [f"w{i:03d}" for i in range(40)]
    docs = [(i, " ".join(words[i::4] + words), 10) for i in range(4)]
    sf = str(tmp_path)
    spark.createDataFrame(
        docs, "doc_id long, text string, n_chars long"
    ).write.parquet(f"{sf}/documents.parquet")
    row = q_hll_sketch(spark, sf).collect()[0]
    assert row["exact_distinct"] == 40

    regs = [0] * HLL_M
    for w in set(words):
        hx = hashlib.md5(w.encode()).hexdigest()
        bucket = int(hx[:2], 16)
        sfx = hx[2:]
        stripped = sfx.lstrip("0")
        zp = len(sfx) - len(stripped)
        d1 = stripped[0] if stripped else ""
        lz = {"1": 3, "2": 2, "3": 2, "4": 1, "5": 1, "6": 1, "7": 1}.get(d1, 0)
        rho = min(HLL_RHO_CAP, zp * 4 + lz + 1)
        regs[bucket] = max(regs[bucket], rho)
    checksum = hashlib.md5(",".join(str(r) for r in regs).encode()).hexdigest()
    assert row["register_checksum"] == checksum
    assert row["register_sum"] == sum(regs)
    assert row["zero_registers"] == regs.count(0)
    # 40 distinct over 256 registers: the correction branch MUST fire
    v = regs.count(0)
    expected = HLL_M * math.log(HLL_M / v)
    assert abs(row["hll_est_r6"] - round(expected, 6)) < 1e-9
    assert row["hll_est_r6"] != row["raw_est_r6"]
    assert abs(row["hll_est_r6"] - 40) / 40 < 0.10

    # sf0.01 sanity: the synthetic corpus has a TINY vocabulary (~tens of
    # distinct tokens), so linear counting fires there too and the
    # estimate must track exact closely (linear counting is near-exact
    # at occupancy this low)
    big = q_hll_sketch(spark, "/root/testdata/sf0.01").collect()[0]
    rel = abs(big["hll_est_r6"] - big["exact_distinct"]) / big["exact_distinct"]
    assert rel < 0.15, (big["hll_est_r6"], big["exact_distinct"])
    expected_big = HLL_M * math.log(HLL_M / big["zero_registers"])
    assert abs(big["hll_est_r6"] - round(expected_big, 6)) < 1e-9


def test_hll_linear_counting_ln_domain(spark):
    """ln() is the one non-exact float op in the HLL chain: JVM Math.log
    and DuckDB's libm are each faithfully-but-not-correctly rounded and
    DO differ in the last ULP for some inputs. The gate compares
    round(x, 6), so this pins the ENTIRE reachable input domain of the
    linear-counting branch (256/V, V in 1..255) as round-6-identical
    across engines — if a platform's libm ever drifts past that margin,
    this reddens before the driver does."""
    import duckdb

    con = duckdb.connect()
    duck = {
        v: con.execute(
            f"SELECT round(256.0 * ln(256.0 / {float(v)}), 6)"
        ).fetchone()[0]
        for v in range(1, 256)
    }
    from pyspark.sql import functions as F

    rows = (
        spark.range(1, 256)
        .select(
            F.col("id").alias("v"),
            F.round(
                F.lit(256.0) * F.log(F.lit(256.0) / F.col("id").cast("double")),
                6,
            ).alias("x"),
        )
        .collect()
    )
    bad = [(r["v"], r["x"], duck[r["v"]]) for r in rows if r["x"] != duck[r["v"]]]
    assert not bad, bad


def test_filtered_ann_respects_predicate(spark, sf_dir):
    """sim_ann_filtered: every retrieved candidate carries the query's
    target label (pre-filtering, not post-trimming), ranks are dense
    from 1, and each query's best filtered cosine never beats its best
    UNfiltered cosine over the same probe width (the predicate can only
    remove candidates)."""
    from pyspark.sql import functions as F

    from octopusdb_spark.queries.similarity import q_sim_ann_filtered

    rows = q_sim_ann_filtered(spark, sf_dir).collect()
    assert rows, "filtered ANN returned nothing"
    emb_labels = {
        r["vec_id"]: r["label"]
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "label")
        .collect()
    }
    by_q: dict = {}
    for r in rows:
        assert emb_labels[r["cand_id"]] == r["target_label"], r
        assert r["target_label"] == r["query_id"] % 10
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        ranks = sorted(x["rank"] for x in rs)
        assert ranks == list(range(1, len(ranks) + 1)), (q, ranks)
        # per-query descending cosine by rank (deterministic tie-break)
        ordered = sorted(rs, key=lambda x: x["rank"])
        cos = [x["cosine"] for x in ordered]
        assert cos == sorted(cos, reverse=True), (q, cos)


def test_scan_split_gate_reads_spark_byte_confs(spark, tmp_path, monkeypatch):
    """`_parse_bytes` takes every documented Spark byte-size form, and
    `_scan_splits` (the gate under `spread`) falls back to the RDD probe
    instead of failing at plan time when a size conf does not parse."""
    from octopusdb_spark.queries import common

    for text, want in [
        ("4194304", 4194304),
        ("4194304b", 4194304),
        ("512k", 512 << 10),
        ("512KB", 512 << 10),
        ("128m", 128 << 20),
        ("128mb", 128 << 20),
        ("1G", 1 << 30),
        ("1gb", 1 << 30),
        ("1tb", 1 << 40),
        ("2pb", 2 << 50),
    ]:
        assert common._parse_bytes(text) == want, text
    for text in ("", "mb", "12 parsecs", "1mbb"):
        with pytest.raises(ValueError):
            common._parse_bytes(text)

    path = str(tmp_path / "one_file.parquet")
    spark.range(10).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    assert len(df.inputFiles()) < spark.sparkContext.defaultParallelism
    key = "spark.sql.files.maxPartitionBytes"
    orig = spark.conf.get(key)
    estimate = common._scan_splits(df)
    spark.conf.set(key, "128mb")
    try:
        assert common._scan_splits(df) == estimate
    finally:
        spark.conf.set(key, orig)

    def unparseable(v):
        raise ValueError(v)

    monkeypatch.setattr(common, "_parse_bytes", unparseable)
    assert common._scan_splits(df) == df.rdd.getNumPartitions()
    assert common.spread(df, "id").count() == 10
