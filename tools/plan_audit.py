"""Physical-plan audit: sweep every registered query for scale anti-patterns.

For each entry in the registry, build the DataFrame against sf0.001 (plan
shape is SF-independent) and inspect the analyzed/physical plan text for the
patterns that kill 100 TB runs:

- ``cartesian``      CartesianProduct / BroadcastNestedLoopJoin on a data
                     path (all-pairs blowup). Queries that are *by design*
                     exact all-pairs baselines declare themselves in
                     ALLOWED_CARTESIAN with the reason.
- ``single_partition`` an ``Exchange SinglePartition`` — the whole input
                     funnels through one task (the physical signature of an
                     unpartitioned window or global agg-as-stream). Final
                     global sorts use range partitioning and orderBy+limit
                     compiles to TakeOrderedAndProject, so neither triggers
                     this; post-limit windows on tiny frames are bounded
                     and allow-listed with the bound.
- ``python_row_udf`` BatchEvalPython = row-at-a-time Python on the plan;
                     Arrow-batched variants (ArrowEvalPython, MapInPandas,
                     FlatMapGroupsInPandas) are the sanctioned forms.
- ``global_sort``    a final global Sort is fine for result presentation,
                     but a Sort feeding further joins/aggs forces a full
                     range shuffle; only reported (info), not failed.

Additionally, a *source-level* forced-hint sweep: every ``F.broadcast(x)``
in the package must hint a relation on the declared fixed-size allow-list
(HINT_ALLOWED_BASES). Forced hints on SF-scaled relations (customer,
supplier, part, payload/values tables, …) OOM the driver at the 100 TB
design point — AQE already broadcasts them at runtime when they fit, so a
hard hint only ever *removes* safety. Hints gated on real metadata (the KV
store's manifest-byte gate) are allow-listed by name with the gate cited.

Exit code 1 if any non-allow-listed finding appears; prints one JSON line.
Usage: python tools/plan_audit.py [query_name ...]
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from octopusdb_spark.queries import REGISTRY
from octopusdb_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_PLAN_SF_DIR", "/root/testdata/sf0.001")

# query -> reason a cartesian/nested-loop join is the documented intent
ALLOWED_CARTESIAN = {
    "sim_quantized_cosine": "brute-force scoring by design (int8 variant of the exact baseline; Q small)",
    "sim_topk_cosine": "exact brute-force baseline (Q small, corpus pruned)",
    "dedup_embedding_cosine": "exact re-score of <=O(B^2*20) candidate rows",
    "q_asof_join": "small build side; per-key ranges joined then filtered",
    "sim_ann_filtered": "broadcast NLJ against the fixed K-centroid table (K tiny); the label predicate is an equi-filter on the assignment frame",
    "q_weighted_sample": "scalar total-weight subquery (1-row broadcast)",
    "q11_volume_share_shape": "TPC-H Q11 global-total scalar subquery (1-row broadcast)",
    "kv_changefeed": "snapshot-cutoff scalar subquery (1-row broadcast)",
    "kv_changefeed_preimage": "snapshot-cutoff scalar subquery (1-row broadcast), shared with kv_changefeed",
    "sim_ann_ivf_kmeans": "broadcast NLJ against the fixed K-centroid table per Lloyd round (K tiny), same as sim_ann_ivf",
    "dedup_semantic": "broadcast NLJ against the fixed K-centroid table (assignment step, K tiny); the within-cluster pair join is a cent_id equi-join",
    "sim_ann_pq": "broadcast NLJ against the 5-query ADC lookup tables (the PQ compressed scan; corpus side reads only codes+norm)",
    "sim_ann_ivfpq": "broadcast NLJ against the fixed K-centroid table per Lloyd round (K tiny), same as sim_ann_ivf_kmeans; ADC runs as an equi-join on cand_id/query_id",
    "q22_global_sales": "TPC-H Q22 uncorrelated scalar subquery (1-row broadcast)",
    "q_time_gapfill": "dense bucket axis x event types: days*5 rows, broadcast",
    "q_source_balanced_sample": "global-min target scalar subquery (1-row broadcast)",
    "q_domain_mixture": "corpus-totals scalar subquery (1-row broadcast)",
    "q_join_skew_profile": "key-stats scalar subquery (1-row broadcast)",
    "quality_distribution_drift": "corpus-totals scalar subquery (1-row broadcast) joined to the 20-row drift report",
    "text_langid_ngram": "doc-profile x language-list fan-out (|languages| rows, bounded by the label vocabulary)",
    "pipeline_pretrain_v2": "survivor-totals scalar subquery (1-row broadcast), inherited from the q_domain_mixture stage",
    "pipeline_pretrain_corpus": "global-min sample-target scalar subquery (1-row broadcast), inherited from the q_source_balanced_sample stage",
    "q_hll_sketch": "summary x exact join of two 1-ROW aggregate frames (the sketch is 256 registers folded to one row before the join)",
    "q_stream_hll": "same 1-row summary x exact join as q_hll_sketch (shared hll_report)",
}

# query -> reason an Exchange SinglePartition is bounded anyway
ALLOWED_SINGLE_PARTITION = {
    "q_token_budget_packing": "phase-2 prefix sum windows over BUCKET TOTALS (rows = bucket count, not doc count); per-doc windows are bucket-keyed",
    "q_token_budget_packing_bpe": "same two-phase prefix sum: the unpartitioned window runs over BUCKET TOTALS only; both per-doc running sums are bucket-keyed",
    "dedup_embedding_cosine": "rank window runs on 20 rows post-limit",
    "sim_topk_cosine": "rank window on <= 25 rows post-limit",
    "q_p95_disc": "per-flag count frame: one row per returnflag (3 rows)",
    "q_time_gapfill": "SinglePartition is the global min/max bounds agg; the LOCF window itself is keyed by event_type",
    "sim_ann_ivf_kmeans": "optimizer-injected runtime bloom_filter_agg (global 1-row aggregate); every row_number window is keyed by vec_id/query_id",
    "sim_ann_pq": "optimizer-injected runtime bloom_filter_agg under the codebook-training joins (global 1-row aggregate); every window is keyed by (vec_id, m) / query_id / m",
    "sim_ann_ivfpq": "optimizer-injected runtime bloom_filter_agg under the training joins (global 1-row aggregate); every window is keyed by vec_id / (vec_id, m) / query_id",
    "q_source_balanced_sample": "SinglePartition is the global min over per-source counts (rows = source count); the sampling window is keyed by source",
    "pipeline_pretrain_corpus": "SinglePartition covers the global-min sample target (rows = source count) and the phase-2 prefix sum over BUCKET TOTALS (rows = bucket count); per-doc windows are source-/bucket-keyed",
    "pipeline_pretrain_v2": "SinglePartition covers only the phase-2 prefix sum over BUCKET TOTALS (rows = bucket count); per-doc windows are bucket-keyed, same as pipeline_pretrain_corpus",
}

# row-at-a-time Python is banned on data paths; declared capability demos
# are the exception
ALLOWED_ROW_PYTHON = {
    "text_tokenize_udtf": "Python UDTF is the declared off-hot-path capability demo",
}

# Forced F.broadcast(<base>...) hints must justify why the base is safe at
# 100 TB. Everything NOT allow-listed is flagged: customer/supplier/part and
# any payload-derived relation scale with SF and must be left to AQE.
#
# Two tiers (ADVICE r6: generic names were allow-listed package-wide, so an
# SF-scaled frame bound to `q` or `total` anywhere would slip the gate):
#  - GLOBAL: names that ARE the fixed-size TPC-H dimensions. Unambiguous in
#    any file; rebinding `nation` to something SF-scaled would never survive
#    review.
#  - SCOPED: generic/short names, valid only in the (file, name) pair where
#    the binding was reviewed. The same name in any other file is flagged.
HINT_ALLOWED_GLOBAL = {
    "nation": "25 rows at every SF",
    "region": "5 rows at every SF",
    "n1": "nation alias (25 rows)",
    "n2": "nation alias (25 rows)",
}

_TPCH = "octopusdb_spark/queries/tpch_extra.py"
_SIM = "octopusdb_spark/queries/similarity.py"
_ANNIDX = "octopusdb_spark/functions/ann_index.py"
HINT_ALLOWED_SCOPED = {
    # nation subsets / projections
    (_TPCH, "asia_nations"): "nation semi-joined to one region (<=25 rows)",
    (_TPCH, "amer_nations"): "nation semi-joined to one region (<=25 rows)",
    (_TPCH, "eu_nations"): "nation joined to one region (<=25 rows)",
    (_TPCH, "supp_nation"): "nation projection (25 rows)",
    # 1-row / K-row scalar aggregates
    (_TPCH, "max_rev"): "1-row global max",
    (_TPCH, "avg_bal"): "1-row global avg",
    (_TPCH, "total"): "1-row global total",
    ("octopusdb_spark/queries/analytics_extra.py", "max_w"): "1-row global max",
    ("octopusdb_spark/queries/graph.py", "kdf"):
        "1-row k threshold (global min degree + constant)",
    ("octopusdb_spark/queries/kv_semantics.py", "cut"): "1-row snapshot cutoff",
    (_ANNIDX, "k_total"):
        "1-row drift totals (list count + corpus size from the stats ledger)",
    ("octopusdb_spark/queries/scale_patterns.py", "target"): "1-row global min",
    ("octopusdb_spark/queries/scale_patterns.py", "tot"):
        "1-row corpus totals (sum of per-source counts/weights)",
    ("octopusdb_spark/queries/scale_patterns.py", "stats"):
        "1-row key statistics (total/count/max of per-key counts)",
    ("octopusdb_spark/queries/quality.py", "totals"):
        "1-row global token totals (count per slice)",
    ("octopusdb_spark/queries/text.py", "langs"):
        "distinct language labels (bounded by the label vocabulary, ~5 rows)",
    ("octopusdb_spark/queries/text.py", "lm_model"):
        "char-bigram LM model (shared builder): top-LM_TOP_K rows, "
        "<= |charset|^2 by construction",
    ("octopusdb_spark/queries/scale_patterns.py", "offsets"):
        "one row per pack bucket (bucket totals, not docs)",
    ("octopusdb_spark/queries/advanced.py", "axis"):
        "gapfill axis: day-range x event types, bounded by time span",
    ("octopusdb_spark/queries/multimodal.py", "windows"):
        "per-clip slice windows under _doc_media's doc-set guard "
        "(doc_id < 60 + byte-length band: <= 60 rows at every SF)",
    # ANN structures bounded by construction (K centroids / M*K codebooks /
    # N_QUERIES query rows / fixed shortlist)
    (_SIM, "cent"): "K centroid rows (K fixed)",
    (_SIM, "codebook"): "M x K codebook rows (fixed)",
    (_SIM, "lut"): "ADC lookup tables for N_QUERIES queries (fixed)",
    (_SIM, "q"): "N_QUERIES query vectors (fixed)",
    (_SIM, "qv"): "N_QUERIES query vectors (fixed)",
    (_SIM, "cand"): "bounded candidate pair set (<=O(B^2*20) ids, never the corpus)",
    (_SIM, "sizes"): "per-centroid row counts (K rows, K fixed by the quantizer)",
    (_SIM, "qc"): "N_QUERIES x nprobe centroid-dot rows (fixed)",
    (_ANNIDX, "cent"): "K centroid rows (K fixed)",
    (_ANNIDX, "cent_r"): "K centroid rows (K fixed)",
    (_ANNIDX, "probes"): "nprobe centroid ids per query (fixed)",
    (_ANNIDX, "probes_local"):
        "same probe rows re-parallelized from the driver collect "
        "(<= nprobe per query, fixed)",
    (_ANNIDX, "cb"): "M x K codebook rows read from a PQ index (fixed)",
    (_ANNIDX, "lut"): "ADC lookup tables for N_QUERIES queries (fixed)",
    (_ANNIDX, "qv"): "N_QUERIES query vectors (fixed)",
    (_ANNIDX, "qc"): "query-batch x K centroid-dot rows (fixed)",
    ("octopusdb_spark/queries/text.py", "bench"):
        "benchmark shingle set, bounded by benchmark size",
    # KV store sites gated on real manifest metadata before hinting
    ("octopusdb_spark/kv/store.py", "vals"):
        "_resolve_values: hint emitted only when manifest value-bytes "
        "< BROADCAST_MAX_BYTES",
    ("octopusdb_spark/kv/store.py", "live_ptrs"):
        "gc_values: hint gated on manifest pointer-bytes < BROADCAST_MAX_BYTES",
}

def _hint_base_name(expr) -> str | None:
    """The base identifier of a broadcast argument: F.broadcast(cust) ->
    'cust', F.broadcast(part.filter(...).select(...)) -> 'part'."""
    import ast

    while True:
        if isinstance(expr, ast.Name):
            return expr.id
        if isinstance(expr, ast.Call):
            expr = expr.func
        elif isinstance(expr, ast.Attribute):
            expr = expr.value
        else:
            return None


def audit_forced_hints(pkg_root: str) -> dict:
    """Scan package sources for F.broadcast hints on non-allow-listed bases.

    AST-based, not regex: multi-line calls (``F.broadcast(\\n  cust\\n)``)
    are caught and comments/docstrings cannot false-positive. Generic names
    are scoped to the (file, name) pair where the binding was reviewed
    (HINT_ALLOWED_SCOPED); only the fixed TPC-H dimension names pass
    package-wide (HINT_ALLOWED_GLOBAL). Remaining limitation, accepted as a
    tripwire-not-proof: rebinding an allow-listed name to an SF-scaled frame
    INSIDE its own reviewed file still slips through — review owns that;
    this gate owns the mechanical cases."""
    import ast

    flagged = {}
    for dirpath, _dirs, files in os.walk(pkg_root):
        if "__pycache__" in dirpath:
            continue
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), filename=path)
            for node in ast.walk(tree):
                if not (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "broadcast"
                    and isinstance(node.func.value, ast.Name)
                    and node.func.value.id == "F"
                    and node.args
                ):
                    continue
                base = _hint_base_name(node.args[0])
                rel = os.path.relpath(path, os.path.dirname(pkg_root))
                allowed = base is not None and (
                    base in HINT_ALLOWED_GLOBAL
                    or (rel, base) in HINT_ALLOWED_SCOPED
                )
                if not allowed:
                    flagged.setdefault(rel, []).append(
                        {"line": node.lineno, "base": base or "<expr>",
                         "detail": "forced broadcast hint on relation not in "
                                   "the fixed-size allow-list"}
                    )
    return flagged


def audit_one(spark, name, fn):
    findings = []
    try:
        df = fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        analyzed = df._jdf.queryExecution().analyzed().toString()
    except Exception as e:
        return [{"kind": "error", "detail": str(e)[:200]}]
    if re.search(r"CartesianProduct|BroadcastNestedLoopJoin", plan):
        if name not in ALLOWED_CARTESIAN:
            findings.append({"kind": "cartesian", "detail": "unallowed all-pairs join"})
    # A SinglePartition exchange is benign under a global aggregate (the
    # partial-agg phase bounds it to one row per upstream partition); it is
    # a scale bug when a Window consumes it — every raw row lands in one
    # task. Flag only the Window co-occurrence.
    if (
        "Exchange SinglePartition" in plan
        and re.search(r"\bWindow\b", plan)
        and name not in ALLOWED_SINGLE_PARTITION
    ):
        findings.append(
            {"kind": "single_partition_window", "detail": "window over one task's rows"}
        )
    if "BatchEvalPython" in plan and name not in ALLOWED_ROW_PYTHON:
        findings.append({"kind": "python_row_udf", "detail": "row-at-a-time Python UDF"})
    if "!" in analyzed:
        findings.append({"kind": "unresolved", "detail": "analyzer placeholder in plan"})
    return findings


def main() -> int:
    names = sys.argv[1:] or list(REGISTRY)
    pkg_root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "octopusdb_spark",
    )
    hint_flags = audit_forced_hints(pkg_root)
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    report, n_bad = {}, 0
    for name in names:
        findings = audit_one(spark, name, REGISTRY[name])
        if findings:
            report[name] = findings
            n_bad += 1
    print(json.dumps({
        "queries_audited": len(names),
        "flagged": report,
        "forced_hints_flagged": hint_flags,
    }))
    spark.stop()
    return 1 if (n_bad or hint_flags) else 0


if __name__ == "__main__":
    raise SystemExit(main())
