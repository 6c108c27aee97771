"""Tests of ``__spark_entry__``: the shape of entry()/queries()/oracle_sql(),
and the one sweep over the operator inventory. The sweep builds each
query once at sf0.001, checks its plans against the plan-shape and
broadcast-hint gates, then collects it and compares every value with its
DuckDB twin through ``tools/check_oracle.py``'s comparator. The sf0.01
parity run stays in that tool."""

import re

import duckdb
import pytest

import __spark_entry__ as entrymod
from tools.check_oracle import TABLES, compare

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()

# Plan-shape gate: CartesianProduct, BroadcastNestedLoopJoin and an
# unpartitioned WindowExec are the three plan-level scale killers. An
# exception is listed here WITH its reason, so adding one is a reviewed
# decision; an entry whose query no longer shows its marker fails too.
# A nested-loop join against a BROADCAST 1-row aggregate (grand totals /
# normalizer) is the intended plan: there is no key to hash on and the
# build side is a single row, so "nested loop" degenerates to a
# map-side constant. g01's per-superstep 1-row dangling-mass join is
# checkpointed away before the final plan (llmops/graph.py), so it needs
# no entry.
NESTED_LOOP_ALLOWED = {
    "t11_domain_mixture": ("BroadcastNestedLoopJoin", "1-row grand-totals join"),
    "w02_temperature_mixture": ("BroadcastNestedLoopJoin", "1-row totals + normalizer join"),
    "dq01_constraint_audit": ("BroadcastNestedLoopJoin", "1-row total_rows join onto unique/FK counts"),
    "p02_curate_round3": ("BroadcastNestedLoopJoin", "inherits w02's 1-row totals + normalizer join"),
    "s08_ivf_recall_gate": ("BroadcastNestedLoopJoin", "bounded 5-row query-vector batch table onto one corpus scan (R10 batch pattern)"),
    "s10_pq_recall_gate": ("BroadcastNestedLoopJoin", "inherits s08's bounded 5-row query-vector batch table on the exact side"),
    "t18_corpus_report": ("BroadcastNestedLoopJoin", "1-row language-total join for entropy fractions"),
    "t19_vocabulary_stats": ("BroadcastNestedLoopJoin", "1-row Zipf-head total join"),
    "t17_kneser_ney_lm": ("BroadcastNestedLoopJoin", "1-row bigram-type-total join (KN continuation normalizer)"),
    "t20_perplexity_buckets": ("BroadcastNestedLoopJoin", "inherits t17's 1-row bigram-type-total join"),
    "r10_batch_list_query": ("BroadcastNestedLoopJoin", "bbox range-join against the feature list, bounded by MAX_BATCH_FEATURES=100 (raster/batch.py)"),
    "r11_version_overrides": ("BroadcastNestedLoopJoin", "inherits r10's bounded feature-list range-join (raster/batch.py)"),
    "a04_count_min_sketch": ("BroadcastNestedLoopJoin", "1-row corpus-total join for the error-bound boolean (t19 convention)"),
    "a03_heavy_hitters": ("BroadcastNestedLoopJoin", "1-row non-null-row-count join for the MG undercount bound (t19 convention; replaced a serial count() action)"),
    "t06_tfidf_top_terms": ("BroadcastNestedLoopJoin", "1-row n_docs join for the IDF normalizer (replaced a serial count() action)"),
    "t15_bm25_search": ("BroadcastNestedLoopJoin", "1-row N/avgdl scalar join for BM25 (replaced a serial scalar-agg action)"),
    "s09_hybrid_rrf_search": ("BroadcastNestedLoopJoin", "inherits t15's 1-row N/avgdl scalar join on the lexical arm"),
}

# Broadcast-hint gate: a forced ``F.broadcast()`` is only safe when the
# build side is BOUNDED by construction (a 1-row/grand-total aggregate, a
# top-k limited set, a fixed dimension/catalog table, or a fixed
# benchmark corpus). A hint on a data-dependent set (e.g. "all ids
# flagged as duplicates") is a driver/executor OOM at 100 TB even though
# it looks fine at test scale. name → why the hinted build side is bounded.
# A hint inside a persisted or checkpointed fragment does not reach the
# final optimized plan, so this gate cannot see it and lists no entry for
# it. Two such hints are bounded by construction: g01's 1-row
# dangling-mass share, broadcast per superstep and checkpointed
# (llmops/graph.py), and s08's 5-row query-vector batch table on the
# persisted exact side of the recall gate.
BROADCAST_HINT_ALLOWED = {
    "i02_three_way_join": "nation/region dimension tables (fixed catalog size)",
    "i08_multiway_join_revenue": "supplier/nation/region dimension tables",
    "t11_domain_mixture": "1-row grand-totals aggregate",
    "w01_importance_weights": "1-row raw/target total aggregates",
    "w02_temperature_mixture": "1-row totals + 1-row normalizer aggregates",
    "p02_curate_round3": "inherits w02's 1-row totals/normalizer",
    "dq01_constraint_audit": "1-row total_rows + bounded parent-key dim",
    "q24_skew_hybrid_join": "top-k hot-key aggregate (LIMITed) + small dim",
    "s04_blocked_cosine_pairs": "per-block counts guard (fixed bucket count)",
    "st05_stream_static_enrich": "static dimension table",
    "d08_benchmark_decontamination": "benchmark corpus side (fixed eval set)",
    "p01_curate_corpus": "benchmark corpus side (fixed eval set)",
    "t18_corpus_report": "1-row language-total aggregate (entropy normalizer)",
    "t19_vocabulary_stats": "1-row top-10-token total aggregate",
    "t17_kneser_ney_lm": "1-row bigram-type-total aggregate (KN continuation normalizer)",
    "t20_perplexity_buckets": "inherits t17's 1-row bigram-type-total aggregate",
    "r10_batch_list_query": "feature list bounded by MAX_BATCH_FEATURES=100 (raster/batch.py cap)",
    "r11_version_overrides": "inherits r10's MAX_BATCH_FEATURES-bounded feature list",
    "a04_count_min_sketch": "1-row corpus-total aggregate (error-bound normalizer)",
    "e20_byte_budget_shards": "bucket-offset table guarded to ≤10M rows "
    "(llmops/export.py assign_byte_shards — buckets = maxid/bucket_width)",
    "a03_heavy_hitters": "1-row non-null-row-count aggregate (MG undercount bound)",
    "t06_tfidf_top_terms": "1-row n_docs aggregate (IDF normalizer)",
    "t15_bm25_search": "1-row N/avgdl scalar aggregate (BM25 constants)",
    "s09_hybrid_rrf_search": "inherits t15's 1-row N/avgdl scalar aggregate",
}

# "Window [exprs], [partition], [order]" prints an empty partition spec
# as "], [], [": the whole input goes through one task
UNPARTITIONED_WINDOW = re.compile(r"Window \[[^\n]*?\], \[\], \[")


def test_entry_runs(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns and "count_order" in df.columns


def test_queries_and_oracles_aligned(spark):
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(queries) >= 40
    # every oracle key must have a query
    assert set(oracles) <= set(queries)
    # d04/d05 (portable md5 hash families), t04 (integer-reduced
    # argmax), s03/d07 (inlined hyperplane literals) left this set in
    # round 3; a01/a02 left in round 4 (error-bound booleans); the
    # final three — d11 (planted exact clones), s05 (full-probe ≡
    # brute force), s07 (snapped-corpus ADC envelope) — left in round
    # 8 (VERDICT r7 #3). EVERY entry now carries a full DuckDB oracle.
    assert set(queries) == set(oracles)


def test_driver_snapshot_slots_are_full_oracle():
    """The driver's correctness snapshot records only the first 50 dict
    entries. Round-6 policy (VERDICT r5 #1): rows-only entries may hold
    a front slot ONLY when explicitly named in _DRIVER_FRONT (they get
    the weaker rows-only driver check, which d11/s07 have never had);
    every other front slot must be a hash-compared full-oracle entry,
    and outside the front all rows-only entries stay at the tail."""
    from gfw_data_api_spark.inventory import _DRIVER_FRONT

    queries = list(entrymod.queries())
    oracles = set(entrymod.oracle_sql())
    snapshot = queries[:50]
    weak = [n for n in snapshot if n not in oracles]
    assert all(n in _DRIVER_FRONT for n in weak), weak
    assert len(weak) <= 3, weak  # deliberate, bounded spend of weak slots
    # past the front, rows-only entries are all at the tail
    tags = [name in oracles for name in queries[50:]]
    first_rows_only = tags.index(False) if False in tags else len(tags)
    assert all(not t for t in tags[first_rows_only:])


def test_plan_allowlists_name_declared_queries():
    assert set(NESTED_LOOP_ALLOWED) <= set(QUERIES)
    assert set(BROADCAST_HINT_ALLOWED) <= set(QUERIES)


def plan_findings(name: str, executed: str, optimized: str) -> list[str]:
    """What the two plan gates find in one query's pre-AQE physical plan
    and its optimized logical plan."""
    findings = []
    allowed_marker = NESTED_LOOP_ALLOWED.get(name, ("",))[0]
    for marker in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        if marker in executed and marker != allowed_marker:
            findings.append(marker)
    if allowed_marker and allowed_marker not in executed:
        findings.append(f"stale plan-shape allowlist entry: no {allowed_marker}")
    if UNPARTITIONED_WINDOW.search(executed):
        findings.append("unpartitioned WindowExec")
    hints = optimized.count("strategy=broadcast")
    if hints and name not in BROADCAST_HINT_ALLOWED:
        findings.append(
            f"{hints} broadcast hint(s) on a build side not reviewed as bounded "
            "(add to BROADCAST_HINT_ALLOWED with a reason, or drop the hint)"
        )
    if not hints and name in BROADCAST_HINT_ALLOWED:
        findings.append("stale broadcast-hint allowlist entry: no hint")
    return findings


@pytest.fixture(scope="module")
def oracle_db(sf_dir):
    con = duckdb.connect()
    for table in TABLES:
        con.sql(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{sf_dir}/{table}.parquet')")
    yield con
    con.close()


@pytest.mark.parametrize("name", list(QUERIES))
def test_inventory_query(spark, sf_dir, oracle_db, name):
    """The query builds at sf0.001, its plans pass both plan gates (read
    before it runs, so they are the plans as planned, not as AQE
    re-planned them), and its full result equals its DuckDB twin."""
    df = QUERIES[name](spark, sf_dir)
    qe = df._jdf.queryExecution()
    findings = plan_findings(name, qe.executedPlan().toString(), qe.optimizedPlan().toString())
    assert not findings, findings
    problems = compare(name, df.toPandas(), oracle_db.sql(ORACLES[name]).df())
    assert not problems, problems
