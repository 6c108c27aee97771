#!/usr/bin/env python
"""Empirical scale probe: do the headline operators scale ~linearly?

Synthesizes an N× copy of the driver's documents/embeddings/lineitem
tables in a temp dir (ids remapped per replica so dedup/join semantics
stay honest — replicas are near-dup corpora, not key collisions), then
times representative operators at 1× and N× and prints the time ratio
vs the data ratio. A shuffle-bounded operator should land near ratio
N (linear); a quadratic one blows past it.

Usage: python tools/scale_probe.py [N] [name_prefix ...]
(default 8, sf0.1 inputs; name prefixes restrict to matching ops).
Results are recorded in docs/SCALE.md — rerun after operator changes.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from gfw_data_api_spark.session import get_spark
from gfw_data_api_spark.sources.tabular import load_table


def replicate(df, n, id_cols):
    """N distinct replicas: ids remapped AND every token prefixed with a
    replica tag — exact or lightly-salted copies would leave replicas as
    near-dups of each other (an appended 3-token tail keeps Jaccard at
    ~0.93, i.e. band-collision probability ~1), exploding pair-emitting
    operators' OUTPUT superlinearly by data construction rather than by
    plan. Prefixing every token makes cross-replica shingle overlap
    exactly zero while preserving each replica's internal structure."""
    reps = []
    for i in range(n):
        rep = df
        for c in id_cols:
            rep = rep.withColumn(c, F.col(c) + F.lit(i * 10_000_000))
        if "text" in df.columns and i > 0:
            rep = rep.withColumn(
                "text", F.regexp_replace("text", r"(\S+)", f"r{i}$1")
            )
        reps.append(rep)
    out = reps[0]
    for rep in reps[1:]:
        out = out.unionByName(rep)
    return out


def timed(fn, warm=2, runs=3):
    for _ in range(warm):
        fn()
    best = float("inf")
    for _ in range(runs):
        t = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t)
    return best


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    prefixes = tuple(sys.argv[2:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    tmp = tempfile.mkdtemp(prefix="scale_probe_")
    try:
        # BOTH scales materialize to the same 32-file layout — comparing
        # the driver's single-row-group parquet at 1x against a
        # pre-partitioned copy at Nx would mis-attribute the fan-out
        # shuffle + single-task scan to the operator under test
        paths: dict[tuple[str, int], str] = {}
        for table, id_cols in (
            ("documents", ["doc_id"]),
            ("embeddings", ["vec_id"]),
            ("lineitem", ["l_orderkey"]),
        ):
            base = load_table(spark, sf_dir, table, fanout=False)
            for scale in (1, n):
                path = os.path.join(tmp, f"{table}_{scale}x")
                replicate(base, scale, id_cols).repartition(32).write.parquet(path)
                paths[(table, scale)] = path

        def load(table, scale):
            return spark.read.parquet(paths[(table, scale)])

        from gfw_data_api_spark.llmops.bpe import apply_bpe_catalyst
        from gfw_data_api_spark.llmops.clean import normalize_text
        from gfw_data_api_spark.llmops.dedup import (
            exact_dedup,
            exact_substring_dedup,
            minhash_lsh_candidates,
            minhash_signatures_portable,
            paragraph_dedup,
        )
        from gfw_data_api_spark.llmops.graph import pagerank
        from gfw_data_api_spark.llmops.html import strip_html_col
        from gfw_data_api_spark.llmops.incremental import (
            incremental_minhash_candidates,
        )
        from gfw_data_api_spark.llmops.phash import (
            perceptual_hashes,
            perceptual_neardup_pairs,
        )
        from gfw_data_api_spark.llmops.similarity import (
            brute_force_topk,
            reciprocal_rank_fusion,
        )
        from gfw_data_api_spark.llmops.text import (
            bm25_search,
            gopher_quality_rules,
            perplexity_buckets,
        )
        from gfw_data_api_spark.operators.sketches import heavy_hitters

        def noop(df):
            df.write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()

        def _p02_shape(d):
            # mirrors inventory._p02 end to end (Gopher → containment
            # dedup → temperature mixture), with the same persist pin
            from gfw_data_api_spark.llmops.dedup import (
                _persist_replacing,
                ngram_containment_pairs,
            )
            from gfw_data_api_spark.llmops.mixture import temperature_mixture_weights
            from gfw_data_api_spark.llmops.text import gopher_quality_rules

            kept = _persist_replacing(
                gopher_quality_rules(d, min_words=30, min_stopword_hits=0)
                .filter(F.col("keep"))
                .select("doc_id", "text", "lang"),
                "probe_p02_kept",
            )
            dups = (
                ngram_containment_pairs(kept, shingle_n=3, threshold=0.5)
                .select(F.col("id_b").alias("doc_id"))
                .distinct()
            )
            survivors = kept.join(dups, "doc_id", "left_anti")
            noop(temperature_mixture_weights(survivors, domain_col="lang", alpha=0.5))

        def _q46_shape(d):
            from gfw_data_api_spark.sql.dialect import run_pg_sql

            d.createOrReplaceTempView("probe_q46")
            sql = (
                "SELECT doc_id, "
                "regexp_replace(text, '\\s+', '_', 'g') AS collapsed, "
                "split_part(text || '\\tail', '\\', 2) AS after_bs, "
                "length(substring(text FROM '([A-Za-z]+)\\s')) AS w "
                "FROM probe_q46"
            )
            noop(run_pg_sql(spark, sql))

        def _q9r_shape(d):
            from gfw_data_api_spark.sql.dialect import run_pg_sql

            d.createOrReplaceTempView("probe_q9r")
            sql = (
                "SELECT doc_id, sqrt(abs(n_chars) + 1.0) AS s, "
                "ln(n_chars + 1.5) AS l, "
                "gcd(doc_id % 48, n_chars % 36 + 1) AS g, "
                "lcm(doc_id % 6 + 1, 4) AS m, "
                "chr(65 + CAST(doc_id % 26 AS INT)) AS c, "
                "round(n_chars / 7.0) AS r "
                "FROM probe_q9r"
            )
            noop(run_pg_sql(spark, sql))

        def _q55_shape(d):
            # round-9 SRF lockstep: multi-array unnest(a, b) →
            # arrays_zip + explode, WITH ORDINALITY — over arrays built
            # from real text (~tens of elements), row-expanding map
            from gfw_data_api_spark.sql.dialect import run_pg_sql

            d.createOrReplaceTempView("probe_q55")
            # multi-arg lockstep and WITH ORDINALITY are separate
            # statements (their combination is a documented rejection)
            sql = (
                "SELECT doc_id, "
                "unnest(string_to_array(text, ' '), "
                "string_to_array(lang || '-' || CAST(n_chars AS "
                "VARCHAR), '-')) "
                "FROM probe_q55"
            )
            noop(run_pg_sql(spark, sql))
            sql2 = (
                "SELECT doc_id, "
                "unnest(string_to_array(text, ' ')) WITH ORDINALITY "
                "FROM probe_q55"
            )
            noop(run_pg_sql(spark, sql2))

        def _q57_shape(d):
            # round-9 batch-2 emissions: regexp_split_to_array (regex
            # split keeping trailing empties), jsonb_typeof first-char
            # sniff, jsonb_array_length from_json probe, date_trunc
            # decade/century arithmetic — all map-only codegen
            from gfw_data_api_spark.sql.dialect import run_pg_sql

            d.createOrReplaceTempView("probe_q57")
            sql = (
                "SELECT doc_id, "
                "array_length(regexp_split_to_array(text, "
                "'[aeiou0-9]+'), 1) AS nsplit, "
                "jsonb_typeof(CASE doc_id % 5 "
                "WHEN 0 THEN '{\"k\": 1}' WHEN 1 THEN '[1, 2]' "
                "WHEN 2 THEN '\"' || lang || '\"' "
                "WHEN 3 THEN CAST(doc_id % 9 AS VARCHAR) "
                "ELSE 'true' END) AS jt, "
                "jsonb_array_length('[' || CAST(doc_id % 4 AS VARCHAR) "
                "|| ', 7]') AS jl, "
                "date_trunc('decade', timestamp '2001-03-04 05:06:07' "
                "+ make_interval(days => CAST(doc_id % 900 AS INT))) "
                "AS dec_t "
                "FROM probe_q57"
            )
            noop(run_pg_sql(spark, sql))

        def _q10r_shape(d):
            # round-10 emissions: bytea runtime CASE (hex sniff +
            # UTF-8 cast), quote_literal backslash/E-form CASE,
            # make_interval typed-constructor comparisons, chr NULL
            # guard — map-only codegen over real text
            from gfw_data_api_spark.sql.dialect import run_pg_sql

            d.createOrReplaceTempView("probe_q10r")
            sql = (
                "SELECT doc_id, "
                "encode(lang::bytea, 'hex') AS hex_rt, "
                "quote_literal(substring(text, 1, 40)) AS ql, "
                "chr(CASE WHEN doc_id % 31 = 0 THEN NULL "
                "ELSE 65 + CAST(doc_id % 26 AS INT) END) AS c, "
                "CASE WHEN make_interval(mins => CAST(doc_id % 90 AS "
                "INT)) > make_interval(hours => 1) THEN 1 ELSE 0 END "
                "AS mi "
                "FROM probe_q10r"
            )
            noop(run_pg_sql(spark, sql))

        def _q52_shape(d):
            from gfw_data_api_spark.sql.dialect import run_pg_sql

            d.createOrReplaceTempView("probe_q52")
            sql = (
                "SELECT doc_id, "
                "unnest(string_to_array(lang || '-x' "
                "|| CAST(doc_id % 7 AS VARCHAR), '-')) AS tok "
                "FROM probe_q52"
            )
            noop(run_pg_sql(spark, sql))
            sql2 = (
                "SELECT doc_id, jsonb_array_elements_text("
                "'[' || CAST(doc_id % 5 AS VARCHAR) || ', \"' || lang "
                "|| '\", null]') AS v FROM probe_q52"
            )
            noop(run_pg_sql(spark, sql2))

        def synth_images(d):
            # one unique 8x9 PNG per doc (unique → ~no near-dup pairs, so
            # the probe times decode+hash+band-join, not pair output)
            import numpy as np
            import pandas as pd

            from gfw_data_api_spark.llmops.multimodal import encode_png

            def gen(batches):
                for pdf in batches:
                    payloads = []
                    for doc_id in pdf["doc_id"]:
                        rng = np.random.default_rng(int(doc_id))
                        payloads.append(
                            bytearray(encode_png(rng.integers(0, 256, (8, 9)).astype(np.uint8)))
                        )
                    yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

            return d.select("doc_id").mapInPandas(gen, "doc_id long, payload binary")

        ops = {
            "t01_token_count": lambda d: noop(
                d.select(F.size(F.split(F.trim("text"), r"\s+")).alias("n"))
            ),
            "d01_exact_dedup": lambda d: noop(exact_dedup(d)),
            "d04_minhash_lsh": lambda d: noop(
                minhash_lsh_candidates(d, num_hashes=64, bands=16)
            ),
            "t12_gopher_rules": lambda d: noop(gopher_quality_rules(d)),
            "t15_bm25": lambda d: noop(
                bm25_search(d, ["spark", "join", "vector"], top_k=20)
            ),
            "a03_heavy_hitters": lambda d: noop(
                heavy_hitters(d, "lang", capacity=64, top_k=10)
            ),
            "c03_normalize": lambda d: noop(normalize_text(d)),
            "m04_phash_pairs": lambda d: noop(
                perceptual_neardup_pairs(
                    perceptual_hashes(synth_images(d)),
                    id_col="doc_id",
                )
            ),
            "t20_perplexity": lambda d: noop(
                perplexity_buckets(d).groupBy("bucket").count()
            ),
            "d13_incremental": lambda d: noop(
                incremental_minhash_candidates(
                    d.filter(F.col("doc_id") % 2 == 1),
                    minhash_signatures_portable(d.filter(F.col("doc_id") % 2 == 0)),
                    portable=True,
                )[0]
            ),
            # 2 paragraphs per doc (text + its first-100-char slice) so the
            # probe pays the full explode → agg-on-para → join-back →
            # reassemble pipeline at realistic paragraph cardinality
            "d14_paragraph_dedup": lambda d: noop(
                paragraph_dedup(
                    d.withColumn(
                        "text",
                        F.concat_ws("\n", "text", F.substring("text", 1, 100)),
                    )
                )
            ),
            # affine 2-arm link graph over doc ids (most dsts dangle —
            # web-shaped); 5 supersteps of join+agg+localCheckpoint
            "g01_pagerank": lambda d: noop(
                pagerank(
                    d.select(
                        F.col("doc_id").alias("src"),
                        F.explode(
                            F.array(
                                (F.col("doc_id") * 5 + 7) % 1_000_003,
                                (F.col("doc_id") * 11 + 3) % 1_000_003,
                            )
                        ).alias("dst"),
                    ),
                    iters=5,
                )
            ),
            # VERDICT r5 #2: the iterative/heavy family beyond one round
            # of pairs — alternating star rounds over a web-shaped graph
            # sliding-window keep-first substring dedup — hash shuffle +
            # bounded span explode (Lee et al. semantics, gate d16)
            "d16_exact_substring": lambda d: noop(
                exact_substring_dedup(d, window=8).select("doc_id", "n_tokens_after")
            ),
            "d09_components": lambda d: noop(
                __import__(
                    "gfw_data_api_spark.llmops.components", fromlist=["connected_components"]
                ).connected_components(
                    d.select(
                        F.col("doc_id").alias("id_a"),
                        ((F.col("doc_id") * 5 + 7) % 1_000_003).alias("id_b"),
                    )
                )
            ),
            # KN bigram LM: two corpus-wide count aggregations + a
            # continuation-probability join back onto every bigram
            "t17_kn_lm": lambda d: noop(
                __import__(
                    "gfw_data_api_spark.llmops.text", fromlist=["kneser_ney_bigram_scores"]
                ).kneser_ney_bigram_scores(d)
            ),
            # p02's full composition: Gopher battery → pinned survivors →
            # containment pair index → anti-join → mixture weights
            "p02_curate": lambda d: _p02_shape(d),
            "b02_bpe_catalyst": lambda d: noop(
                apply_bpe_catalyst(
                    d,
                    [
                        ("e", "r"), ("i", "n"), ("o", "r"), ("o", "w"),
                        ("s", "t"), ("a", "l"), ("a", "r"), ("a", "t"),
                        ("m", "er"), ("p", "ar"), ("u", "p"), ("a", "b"),
                    ],
                ).select("doc_id", F.size("bpe_tokens").alias("n"))
            ),
            "c04_html_extract": lambda d: noop(
                d.select(
                    "doc_id",
                    strip_html_col(
                        F.concat(
                            F.lit("<html><head><title>t</title></head><body><p>"),
                            F.col("text"),
                            F.lit("</p><script>var a=1;</script></body></html>"),
                        )
                    ).alias("t"),
                )
            ),
            # VERDICT r6 #5: the variant-parsing hot path (q41/q43
            # translation output shapes) — parse_json/try_variant_get/
            # get_json_object chains plus the kind-guarded containment
            # conjunction, per row
            "q41_json_variant": lambda d: noop(
                d.select(
                    "doc_id",
                    F.expr(
                        "concat('{\"k\": ', CAST(doc_id % 97 AS STRING), "
                        "', \"s\": \"x\"}')"
                    ).alias("props"),
                ).selectExpr(
                    "get_json_object(props, '$.k') AS k_text",
                    "to_json(try_variant_get(parse_json(props), '$.k')) AS k_json",
                    "coalesce(try_cast(get_json_object(props, '$.k') AS DOUBLE)"
                    " = 69 AND substring(to_json(try_variant_get(parse_json("
                    "props), '$.k')), 1, 1) NOT IN ('\"','[','{'), false) AS c69",
                )
            ),
            # q45 array-containment shape: from_json→array<variant> +
            # exists probes per row
            "q45_json_array": lambda d: noop(
                d.select(
                    "doc_id",
                    F.expr(
                        "concat('[\"', lang, '\", ', "
                        "CAST(doc_id % 7 AS STRING), ']')"
                    ).alias("arr"),
                ).selectExpr(
                    "json_array_length(arr) IS NOT NULL AND "
                    "coalesce(exists(from_json(arr, 'array<variant>'), "
                    "x -> to_json(x) = '\"en\"'), false) AND "
                    "coalesce(exists(from_json(arr, 'array<variant>'), "
                    "x -> try_cast(x AS DOUBLE) = 3), false) AS hit"
                )
            ),
            # t24 hashed-linear classifier (map-only md5 bucket sums)
            "t24_classifier": lambda d: noop(
                __import__(
                    "gfw_data_api_spark.llmops.classifier",
                    fromlist=["hashed_linear_score"],
                ).hashed_linear_score(d.select("doc_id", "text"), dim=1024, seed=0)
            ),
            # t25 FIM transform (map-only canonical-hash cuts)
            "t25_fim": lambda d: noop(
                __import__(
                    "gfw_data_api_spark.llmops.fim", fromlist=["fim_transform"]
                ).fim_transform(d.select("doc_id", "text"), rate_pct=90, seed=0)
            ),
            # VERDICT r7 #7: e20's two-level prefix with bucket_width=1 —
            # one bucket PER DOCUMENT, so the driver-side prefix walks
            # row-count-many buckets (the 10⁶-bucket regime's slope);
            # partials agg + window-partitioned-by-bucket both stress the
            # many-tiny-partitions shape
            "e20_byte_shards_b1": lambda d: noop(
                __import__(
                    "gfw_data_api_spark.llmops.export",
                    fromlist=["assign_byte_shards"],
                ).assign_byte_shards(
                    d.select("doc_id", "text"),
                    target_bytes=50_000,
                    bucket_width=1,
                )
            ),
            # VERDICT r7 #7: the q46 LITERAL CONTRACT path end-to-end —
            # guarded PG SQL with backslash literals through run_pg_sql
            # (literals respelled for Spark's default parser + PG regex
            # translation), per-row regex work
            "q46_literal_shape": lambda d: _q46_shape(d),
            # round-8 SRF translation output shapes (q52): explode over
            # split / guarded sequence / array<variant> transform —
            # row-EXPANDING map-side generators, no shuffle
            "q52_srf_shape": lambda d: _q52_shape(d),
            # round-9 guarded-path shape: math-domain assert CASEs,
            # the gcd Euclid fold, unicode chr, typed round — all
            # map-only codegen, should scale exactly linearly
            "q9r_mathgcd_shape": lambda d: _q9r_shape(d),
            # round-9 gate shapes not yet probed (VERDICT r9 #7)
            "q55_srf_lockstep": lambda d: _q55_shape(d),
            "q57_introspection": lambda d: _q57_shape(d),
            # round-10 emissions (bytea, quote_literal E-form,
            # make_interval constructors, chr NULL guard)
            "q10r_defect_shape": lambda d: _q10r_shape(d),
        }
        emb_ops = {
            "s01_cosine_topk": lambda d: noop(
                brute_force_topk(d, [0.1] * 64, k=10)
            ),
        }
        li_ops = {
            "q04_groupagg": lambda d: noop(
                d.groupBy("l_returnflag", "l_linestatus").agg(
                    F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("s"),
                    F.count("*").alias("n"),
                )
            ),
        }

        def rrf(dd, ee):
            lex = bm25_search(dd, ["spark", "join", "vector"], top_k=50)
            sem = brute_force_topk(ee, [0.1] * 64, k=50).select(
                "vec_id", F.col("cosine").alias("cos")
            )
            return noop(
                reciprocal_rank_fusion(
                    [("bm25", lex, "doc_id", "bm25"), ("cos", sem, "vec_id", "cos")]
                )
            )

        def wanted(name):
            return not prefixes or any(name.startswith(p) for p in prefixes)

        print(f"# scale probe: {n}x replicas of sf0.1 (time ratio ~ {n} = linear)")
        rows = []
        for name, op in ops.items():
            if not wanted(name):
                continue
            t1 = timed(lambda: op(load("documents", 1)))
            tn = timed(lambda: op(load("documents", n)))
            rows.append((name, t1, tn))
        if wanted("s09_hybrid_rrf"):
            t1 = timed(lambda: rrf(load("documents", 1), load("embeddings", 1)))
            tn = timed(lambda: rrf(load("documents", n), load("embeddings", n)))
            rows.append(("s09_hybrid_rrf", t1, tn))
        for name, op in emb_ops.items():
            if not wanted(name):
                continue
            t1 = timed(lambda: op(load("embeddings", 1)))
            tn = timed(lambda: op(load("embeddings", n)))
            rows.append((name, t1, tn))
        for name, op in li_ops.items():
            if not wanted(name):
                continue
            t1 = timed(lambda: op(load("lineitem", 1)))
            tn = timed(lambda: op(load("lineitem", n)))
            rows.append((name, t1, tn))
        for name, t1, tn in rows:
            print(
                f"{name}: 1x={t1:.2f}s {n}x={tn:.2f}s ratio={tn / t1:.1f} "
                f"(linear={n})"
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
