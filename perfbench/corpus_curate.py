"""corpus_curate: a bulk curation pass over a seed-generated corpus.

The corpus is a ``SnapshotTable`` with two schema generations (rename,
widening and an added column between them) and one equality delete file,
built during set-up. One op = one pass over it:

1. ``read`` the table (both generations resolved to the current schema);
2. ``migrate_dataframe`` to the curated output schema;
3. ``gopher_signals`` + ``add_text_stats`` as the quality filter;
4. ``exact_dedup`` on normalized text;
5. ``write`` the survivors to a new table;
6. ``minhash_lsh_pairs`` over the survivors;
7. ``hll_distinct_estimate`` + ``kmv_distinct_estimate`` over their tokens.

Executor compute and the Python boundary (``kmv`` runs in ``mapInPandas``)
dominate; the commit plane does almost nothing. The quality-filtered and
deduplicated sets are persisted for the steps of one pass and released at
its end, with every other cached relation, so no pass reuses another's
work. Checks: kept and survivor counts equal the generator's replay, LSH
recall against the planted near-duplicate pairs is at least
``RECALL_FLOOR``, and both sketches are within their error bounds. Work
unit: one document of the corpus.
"""

from __future__ import annotations

import math
import os
import shutil
import time

from perfbench import gen
from perfbench.layers import median_ms, per_op_ms

USES_SPARK = True
SETUPS = 1  # a cold set-up (JVM, session, JIT warm-up) costs ~30 s
MIN_OPS = 2
ROUND = 1
TRACE_MIN_OPS = 1  # the traced run's three windows stay within 180 s

DOCS = 1_000
WARM_DOCS = 200
RECALL_FLOOR = 0.85
HLL_B = 8  # 256 registers
KMV_K = 256
# four standard errors of each estimator
HLL_BOUND = 4 * 1.04 / math.sqrt(1 << HLL_B)
KMV_BOUND = 4 / math.sqrt(KMV_K - 2)


class Workload:
    def __init__(self, seed: int, tmp: str) -> None:
        self.seed = seed
        self.tmp = tmp
        self.outputs = 0

    def setup(self, spark, tracer) -> None:
        """Warm the JIT and the Python workers with a pass over a small
        corpus, then build the measured one."""
        self.spark = spark
        from iceberg_evolve_spark.functions.text import STOPWORDS

        self._build(gen.corpus(self.seed + 1, WARM_DOCS, set(STOPWORDS)), "warm")
        rec = self.op(0, tracer)
        if rec["errors"]:
            raise RuntimeError(f"warm-up failed: {rec['errors']}")
        self.corpus = gen.corpus(self.seed, DOCS, set(STOPWORDS))
        self._build(self.corpus, "corpus")

    def reset(self, tracer) -> None:
        """Passes are independent: nothing to rebuild between windows."""

    def input_digest(self) -> str:
        c = self.corpus
        return gen.digest(c["ids"], c["texts"], c["sources"], c["scores"],
                          c["gen2_from"], c["deleted"])

    def _build(self, c: dict, name: str) -> None:
        """The corpus table: generation 1 (doc_id, body, src, score int),
        an evolution (body -> text, score -> long, + lang), generation 2,
        then one equality delete."""
        import pandas as pd

        from iceberg_evolve_spark import Schema
        from iceberg_evolve_spark.model import Field, PrimitiveType, StructType
        from iceberg_evolve_spark.sources.snapshots import SnapshotTable

        P = PrimitiveType
        g1 = StructType([Field(1, "doc_id", P("long"), required=True),
                         Field(2, "body", P("string")), Field(3, "src", P("string")),
                         Field(4, "score", P("int"))])
        g2 = StructType([Field(1, "doc_id", P("long"), required=True),
                         Field(2, "text", P("string")), Field(3, "src", P("string")),
                         Field(4, "score", P("long")), Field(5, "lang", P("string"))])
        cut = c["gen2_from"]
        first = pd.DataFrame({
            "doc_id": c["ids"][:cut], "body": c["texts"][:cut],
            "src": c["sources"][:cut], "score": c["scores"][:cut],
        }).astype({"doc_id": "int64", "score": "int32"})
        second = pd.DataFrame({
            "doc_id": c["ids"][cut:], "text": c["texts"][cut:],
            "src": c["sources"][cut:], "score": c["scores"][cut:],
            "lang": "en",
        }).astype({"doc_id": "int64", "score": "int64"})
        spark = self.spark
        path = os.path.join(self.tmp, name)
        shutil.rmtree(path, ignore_errors=True)
        table = SnapshotTable(path)
        table.write(spark.createDataFrame(first, Schema(g1).to_spark_struct()),
                    schema=Schema(g1))
        table.evolve_schema(Schema(g2, 1), allow_breaking=True)
        table.append(spark.createDataFrame(second, Schema(g2).to_spark_struct()))
        table.delete_by_key(
            spark.createDataFrame([(k,) for k in c["deleted"]], "doc_id long"),
            ["doc_id"],
        )
        self.table = table
        self.expect = c["expect"]
        self.n_docs = len(c["ids"])

    def op(self, i: int, tracer) -> dict:
        from pyspark.sql import functions as F

        from iceberg_evolve_spark.functions.dedup import (
            exact_dedup, minhash_lsh_pairs, unpersist_intermediates,
        )
        from iceberg_evolve_spark.functions.sketch import (
            hll_distinct_estimate, kmv_distinct_estimate,
        )
        from iceberg_evolve_spark.functions.text import (
            add_text_stats, gopher_signals, tokens,
        )
        from iceberg_evolve_spark.model import Field, PrimitiveType, StructType
        from iceberg_evolve_spark.operators.migrate_df import migrate_dataframe
        from iceberg_evolve_spark.sources.snapshots import SnapshotTable

        spark, span = self.spark, tracer.span
        current = self.table.table_schema().struct
        target = StructType(
            [f for f in current.fields if f.name != "src"]
            + [Field(6, "stage", PrimitiveType("string"), initial_default="curated")]
        )
        self.outputs += 1
        out_path = os.path.join(self.tmp, f"curated-{self.outputs}")
        t0 = time.perf_counter()
        with span("op"):
            with span("snapshots.read"):
                df = self.table.read(spark)
            with span("migrate_df.build"):
                df = migrate_dataframe(df, current, target)
            with span("text.quality"):
                # Filtering gopher_signals' output directly did not finish
                # within minutes even on 200 docs; filtering its persisted
                # output takes a second.
                signals = gopher_signals(df).persist()
                passed = signals.filter(F.col("gopher_pass")).select("doc_id", "text")
                kept = (
                    add_text_stats(passed)
                    .filter(F.col("quality_score") >= gen.QUALITY_THRESHOLD)
                    .select("doc_id", "text")
                    .persist()
                )
                n_kept = kept.count()
            with span("dedup.exact"):
                survivors = exact_dedup(kept, "doc_id", normalize_col="text").persist()
                n_survivors = survivors.count()
            with span("snapshots.write"):
                SnapshotTable(out_path).write(survivors)
            with span("dedup.lsh"):
                pairs_df = minhash_lsh_pairs(survivors, "doc_id")
                pairs = {(r.id_a, r.id_b) for r in pairs_df.collect()}
                unpersist_intermediates(pairs_df)
            toks = survivors.select(F.explode(tokens("text")).alias("tok"))
            with span("sketch.hll"):
                hll = hll_distinct_estimate(toks, "tok", b=HLL_B).collect()[0]
            with span("sketch.kmv"):
                kmv = kmv_distinct_estimate(toks, "tok", k=KMV_K).collect()[0]
            with span("cache.release"):
                for cached in (signals, kept, survivors):
                    cached.unpersist()
                spark.catalog.clearCache()
        seconds = time.perf_counter() - t0

        written = SnapshotTable(out_path).read(spark).count()
        shutil.rmtree(out_path, ignore_errors=True)
        out = check(self.expect, n_kept, n_survivors, written, pairs,
                    float(hll["est_distinct"]), float(kmv["est_distinct"]))
        return {"s": seconds, "units": self.n_docs, **out}

    def layers(self, tracer, records: list[dict], engine: dict) -> dict:
        by = per_op_ms(tracer.spans)
        n = len(records)

        def mean(key):
            return sum(r[key] for r in records) / n

        return {
            "migrate_df.build_ms": median_ms(by, "migrate_df.build"),
            "text.quality_s": median_ms(by, "text.quality") / 1000.0,
            "text.docs_kept": mean("kept"),
            "dedup.exact_s": median_ms(by, "dedup.exact") / 1000.0,
            "dedup.lsh_s": median_ms(by, "dedup.lsh") / 1000.0,
            "dedup.lsh_pairs": mean("pairs"),
            "dedup.lsh_recall": mean("recall"),
            "dedup.lsh_precision": mean("precision"),
            "sketch.hll_s": median_ms(by, "sketch.hll") / 1000.0,
            "sketch.kmv_s": median_ms(by, "sketch.kmv") / 1000.0,
            "sketch.hll_rel_err": mean("hll_err"),
            "sketch.kmv_rel_err": mean("kmv_err"),
            "curate.docs_per_s": sum(r["units"] for r in records)
            / sum(r["s"] for r in records),
        }


def check(want: dict, n_kept: int, n_survivors: int, written: int, pairs: set,
          hll: float, kmv: float) -> dict:
    """Failed checks of one pass against the generator's replay, with the
    quality numbers they were made on."""
    planted = {tuple(p) for p in want["pairs"]}
    hit = len(pairs & planted)
    recall = hit / len(planted) if planted else 1.0
    precision = hit / len(pairs) if pairs else 1.0
    exact = want["distinct_tokens"]
    hll_err, kmv_err = abs(hll - exact) / exact, abs(kmv - exact) / exact
    errors = []
    if n_kept != want["kept"]:
        errors.append(f"quality filter kept {n_kept}, generator expects {want['kept']}")
    if n_survivors != want["survivors"]:
        errors.append(f"exact dedup left {n_survivors}, generator expects "
                      f"{want['survivors']}")
    if written != n_survivors:
        errors.append(f"wrote {written} survivors of {n_survivors}")
    if recall < RECALL_FLOOR:
        errors.append(f"LSH recall {recall:.3f} below {RECALL_FLOOR}")
    if hll_err > HLL_BOUND:
        errors.append(f"HLL error {hll_err:.3f} above {HLL_BOUND:.3f}")
    if kmv_err > KMV_BOUND:
        errors.append(f"KMV error {kmv_err:.3f} above {KMV_BOUND:.3f}")
    return {
        "errors": errors, "kept": n_kept, "pairs": len(pairs), "recall": recall,
        "precision": precision, "hll_err": hll_err, "kmv_err": kmv_err,
    }
