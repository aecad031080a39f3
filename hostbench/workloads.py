"""The workloads: set-up, one closed-loop pass, its correctness gate,
and the layer probes of a traced run.

Each class is constructed inside the set-up measurement (input
registration, dictionary load, operator construction); ``expected`` runs the
oracle afterwards; ``run_pass`` is the timed unit; ``check`` is the per-pass
gate and never overlaps a timed pass. The oracle (and with it pyarrow and
pandas) is imported only where it is used, after set-up, so set-up times the
program's own imports.
"""

from __future__ import annotations

import os
import shutil
import time

from spec import (
    BATCH_FILES,
    CURATION_DEFAULT_RATE,
    CURATION_RATES,
    JACCARD_MIN_PCT,
    KEY_FALLBACK,
    PAGE_COLLAB_DICT,
    PAGE_LANG_DICT,
    PAGE_STATUS_DICT,
    PAGE_STATUS_FALLBACK,
    PAGE_UNION_DICT,
    PATH_FALLBACK,
    PATH_PATTERNS,
    REPETITION_MAX_PCT,
    TAG_FALLBACK,
    curation_cap,
    tag_dict,
)

ROUTES = ("matched", "fallback", "unmatched", "failed", "skipped")


def noop_seconds(build, repeat: int = 2) -> float:
    """Fastest of ``repeat`` runs of the frame ``build()`` returns into the
    noop sink: one stage prefix for prefix differencing. The frame is
    rebuilt for every run, so a lazy checkpoint inside it is not reused."""
    best = float("inf")
    for _ in range(repeat):
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return best


def materialize(build, repeat: int = 2) -> tuple:
    """(fastest seconds, frame) of ``repeat`` eager local checkpoints of the
    frame ``build()`` returns, rebuilt for every run."""
    best, frame = float("inf"), None
    for _ in range(repeat):
        t0 = time.perf_counter()
        frame = build().localCheckpoint()
        best = min(best, time.perf_counter() - t0)
    return best, frame


def tree_size(path: str) -> tuple:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


class PagesPipeline:
    """Parse, four small-dictionary translates, observe, the partitioned
    (route, lang) sink and the aggregate tables, via ``run_pipeline``."""

    name = "pages_pipeline"
    size = 30_000

    def __init__(self, spark, inputs: str, work: str):
        from logstash_filter_translate_spark.plans.pipeline import PipelineConfig

        self.spark, self.inputs, self.work = spark, inputs, work
        self.out = os.path.join(work, "out")
        self.pages = spark.read.parquet(os.path.join(inputs, "pages"))
        self.cfg = PipelineConfig(
            status_dict=PAGE_STATUS_DICT,
            lang_dict=PAGE_LANG_DICT,
            collab_dict=PAGE_COLLAB_DICT,
            union_dict=PAGE_UNION_DICT,
            status_fallback=PAGE_STATUS_FALLBACK,
        )
        self.rows = self.size
        self.problems = []  # from the traced run's dedup probe

    def expected(self) -> None:
        import oracle

        self.want = oracle.pages_expected(self.inputs)

    def before_pass(self, i: int) -> None:
        pass

    def run_pass(self, i: int):
        from logstash_filter_translate_spark.plans.pipeline import run_pipeline

        return run_pipeline(self.spark, self.pages, self.out, cfg=self.cfg, write_outputs=True)

    def check(self, i: int, result) -> list:
        import oracle

        return oracle.pages_check(self.out, result, self.want)

    def counts_in_pass_s(self, i: int) -> bool:
        return True

    def layers(self, status) -> dict:
        from logstash_filter_translate_spark.plans import pipeline

        import oracle

        files, size = tree_size(self.out)
        scan = noop_seconds(lambda: self.pages)
        parse = noop_seconds(lambda: pipeline.parse_stage(self.pages, self.cfg))
        enrich = noop_seconds(
            lambda: pipeline.enrich_stage(
                pipeline.parse_stage(self.pages, self.cfg), self.spark, self.cfg
            )
        )
        routes = oracle.pages_route_rows(self.out)
        probe = NearDupProbe(self.spark, self.inputs, self.work)
        dedup_layers = probe.run(status)
        self.problems = probe.problems
        return {
            **dedup_layers,
            "io.scan_s": scan,
            "html.parse_s": parse - scan,
            "translate.exec_s": enrich - parse,
            "io.files_written": files,
            "io.bytes_written": size,
            **{f"route.{r}_rows": routes.get(r, 0) for r in ROUTES},
        }

    def close(self) -> None:
        pass


class EnrichLookup:
    """A closed-loop stream of event micro-batches through
    ``run_streaming_pipeline(refresh_every_batch=True)``: a big exact
    lookup (broadcast-join plane) against a hot-reloaded CSV dictionary,
    an ordered regex first-match, and an iterate_on tags lookup (explode
    plane), then a per-key/route histogram. A new dictionary version is
    published before every fourth batch."""

    name = "enrich_lookup"
    size = 40_000
    PUBLISH_EVERY = 4

    def __init__(self, spark, inputs: str, work: str):
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from logstash_filter_translate_spark import Translate, TranslateConfig
        from logstash_filter_translate_spark.streaming.refresh import (
            StreamingTranslate,
            run_streaming_pipeline,
        )

        self.spark, self.inputs, self.work = spark, inputs, work
        self.stream_in = os.path.join(work, "stream_in")
        self.out = os.path.join(work, "out")
        for d in (self.stream_in, self.out):
            os.makedirs(d, exist_ok=True)
        self.dict_path = os.path.join(work, "dict.csv")
        shutil.copyfile(os.path.join(inputs, "dict_v0.csv"), self.dict_path)
        self.st = StreamingTranslate(
            TranslateConfig(
                source="key",
                target="key_value",
                dictionary_path=self.dict_path,
                fallback=KEY_FALLBACK,
                refresh_behaviour="merge",
            ),
            spark,
        )
        regex_op = Translate(
            TranslateConfig(
                source="path",
                target="path_class",
                dictionary=PATH_PATTERNS,
                regex=True,
                fallback=PATH_FALLBACK,
            ),
            spark=spark,
        )
        tags_op = Translate(
            TranslateConfig(
                source="tags",
                iterate_on="tags",
                target="tag_labels",
                dictionary=tag_dict(),
                fallback=TAG_FALLBACK,
            ),
            spark=spark,
        )

        def lookups(df):
            df = regex_op.apply(df, route_col="path_route")
            return tags_op.apply(df, route_col="tag_route", iterate_key="event_id")

        def histogram(df):
            labels = F.col("tag_labels")
            code = F.aggregate(
                labels,
                F.lit(0).cast("long"),
                lambda acc, label: acc
                + F.coalesce(F.substring(label, 3, 12).try_cast("long"), F.lit(0)),
            )
            return df.groupBy("route", "key_value", "path_class").agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum(F.size(F.array_remove(labels, TAG_FALLBACK))).alias("tag_hits"),
                F.sum(code).alias("tag_code"),
            )

        self.lookups, self.histogram = lookups, histogram
        self.schema = T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("key", T.StringType()),
                T.StructField("path", T.StringType()),
                T.StructField("tags", T.ArrayType(T.StringType())),
            ]
        )
        source = (
            spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.stream_in)
        )
        self.query = run_streaming_pipeline(
            spark,
            source,
            self.st,
            self.out,
            os.path.join(work, "checkpoint"),
            partition_cols=("route",),
            post=lambda df: histogram(lookups(df)),
            trigger_once=False,
            refresh_every_batch=True,
        )
        self.rows = self.size
        self.published = []  # (batch index, wall time) per dictionary version
        self.version = 0
        self.reload_pass = set()

    def expected(self) -> None:
        import oracle

        self.oracle = oracle.EventsOracle(self.inputs)
        self.file_state = dict(self.oracle.dict0)
        self.program_dict = dict(self.oracle.dict0)
        self.pending = None

    def _batch_file(self, i: int) -> str:
        return f"b{i % BATCH_FILES}.parquet"

    def before_pass(self, i: int) -> None:
        if i == 0 or i % self.PUBLISH_EVERY:
            return
        # new version: move values, add keys, and leave 1/16 of the keys out
        # of this file so merge (keep the old entry) differs from replace
        changes = self.oracle.version_changes[self.version % len(self.oracle.version_changes)]
        self.version += 1
        self.file_state.update(changes)
        content = [
            (k, v) for n, (k, v) in enumerate(self.file_state.items()) if n % 16 != self.version % 16
        ]
        tmp = self.dict_path + ".tmp"
        with open(tmp, "w", encoding="utf-8", newline="") as fh:
            fh.write("".join(f"{k},{v}\n" for k, v in content))
        mtime = max(time.time_ns(), os.stat(self.dict_path).st_mtime_ns + 1_000_000)
        os.utime(tmp, ns=(mtime, mtime))
        os.replace(tmp, self.dict_path)
        self.pending = content
        self.reload_pass.add(i)
        self.published.append((i, time.time()))

    def run_pass(self, i: int):
        os.link(
            os.path.join(self.inputs, "batches", self._batch_file(i)),
            os.path.join(self.stream_in, f"batch-{i:05d}.parquet"),
        )
        self.query.processAllAvailable()
        return self.query.lastProgress["batchId"]

    def check(self, i: int, batch_id) -> list:
        import oracle

        if self.pending is not None:
            self.program_dict.update(self.pending)  # merge refresh
            self.pending = None
        want = self.oracle.histogram(self._batch_file(i), self.program_dict)
        self.last_batch = os.path.join(self.out, "routed", f"__batch_id={batch_id}")
        return oracle.enrich_check(self.last_batch, want)

    def counts_in_pass_s(self, i: int) -> bool:
        return i not in self.reload_pass

    def layers(self, status) -> dict:
        import oracle

        batch = self.spark.read.schema(self.schema).parquet(
            os.path.join(self.inputs, "batches", self._batch_file(0))
        )
        scan = noop_seconds(lambda: batch)
        lookups = noop_seconds(lambda: self.lookups(self.st.apply(batch)))
        agg = noop_seconds(lambda: self.histogram(self.lookups(self.st.apply(batch))))
        files, size = tree_size(self.last_batch)
        routes = {}
        for r in oracle.read_rows(self.last_batch, ["route", "cnt"]):
            routes[r["route"]] = routes.get(r["route"], 0) + r["cnt"]
        return {
            "io.scan_s": scan,
            "translate.exec_s": lookups - scan,
            "pipeline.aggregate_s": agg - lookups,
            "io.files_written": files,
            "io.bytes_written": size,
            **{f"route.{r}_rows": routes.get(r, 0) for r in ROUTES},
        }

    def close(self) -> None:
        self.query.stop()


class NearDupProbe:
    """Exact dedup, MinHash, LSH candidates, n-gram Jaccard verify, the
    threshold filter, connected components and the curation pass over the
    planted near-duplicate corpus, with the exact groups, components and
    keep-set written as parquet sinks. The traced pages_pipeline run drives
    it (see README: why it is not a workload of its own)."""

    def __init__(self, spark, inputs: str, work: str):
        self.spark, self.inputs = spark, inputs
        self.out = os.path.join(work, "dedup")
        self.docs = spark.read.parquet(os.path.join(inputs, "docs"))
        self.cap = curation_cap(self.docs.count())

    def _canonical(self):
        from logstash_filter_translate_spark.operators import dedup

        dedup.exact_dedup(self.docs, "text", "id").write.mode("overwrite").parquet(
            os.path.join(self.out, "exact")
        )
        exact = self.spark.read.parquet(os.path.join(self.out, "exact")).select("id")
        return self.docs.join(exact, "id", "left_semi")

    def _stages(self, canon):
        from pyspark.sql import functions as F

        from logstash_filter_translate_spark.operators import dedup

        sigs = dedup.minhash_signatures(canon, "text", "id", include_sigless=False)
        cands = dedup.lsh_candidate_pairs(sigs, "id")
        jac = dedup.ngram_jaccard_pairs(canon, "text", "id", cands)
        edges = jac.filter(
            F.col("n_intersect") * 100 >= F.col("n_union") * JACCARD_MIN_PCT
        ).select("id_a", "id_b")
        return sigs, cands, jac, edges

    def _curate(self, rep_docs=None):
        from pyspark.sql import functions as F

        from logstash_filter_translate_spark.operators.curation import curation_pipeline

        if rep_docs is None:
            reps = (
                self.spark.read.parquet(os.path.join(self.out, "components"))
                .filter(F.col("id") == F.col("component"))
                .select("id")
            )
            rep_docs = self.docs.join(reps, "id", "left_semi")
        keep = curation_pipeline(
            rep_docs,
            "text",
            "id",
            "lang",
            CURATION_RATES,
            "domain",
            self.cap,
            max_repetition_pct=REPETITION_MAX_PCT,
            default_rate=CURATION_DEFAULT_RATE,
        )
        return rep_docs, keep

    def run(self, status) -> dict:
        """One full chain, gated against the oracle, then each stage on its
        own; returns the dedup and curation layer metrics."""
        from pyspark.sql import functions as F

        from logstash_filter_translate_spark.operators import dedup

        import oracle

        want = oracle.near_dup_expected(self.inputs)
        for _ in range(2):  # the first chain warms this code up
            t0 = time.perf_counter()
            canon = self._canonical()
            _, _, _, edges = self._stages(canon)
            status.mark()
            t_cc = time.perf_counter()
            comps = dedup.connected_components(canon.select("id"), edges, "id")
            cc_s = time.perf_counter() - t_cc
            cc_jobs = len(status.jobs())
            comps.write.mode("overwrite").parquet(os.path.join(self.out, "components"))
            _, keep = self._curate()
            keep.write.mode("overwrite").parquet(os.path.join(self.out, "keep"))
            chain_s = time.perf_counter() - t0
            self.problems = oracle.near_dup_check(self.out, want)
            if self.problems:
                break

        # each stage runs once more over its materialized input, so its time
        # is its own (prefix differencing goes negative here: the lazy
        # checkpoints inside the LSH and Jaccard stages change the plans)
        scan = noop_seconds(lambda: self.docs)
        exact = noop_seconds(lambda: dedup.exact_dedup(self.docs, "text", "id"))
        canon = self._canonical().localCheckpoint()
        minhash_s, sigs = materialize(
            lambda: dedup.minhash_signatures(canon, "text", "id", include_sigless=False)
        )
        lsh_s, cands = materialize(lambda: dedup.lsh_candidate_pairs(sigs, "id"))
        verify_s, jac = materialize(lambda: dedup.ngram_jaccard_pairs(canon, "text", "id", cands))
        n_cands = cands.count()
        n_edges = jac.filter(
            F.col("n_intersect") * 100 >= F.col("n_union") * JACCARD_MIN_PCT
        ).count()
        rep_docs = self._curate()[0].localCheckpoint()
        curation_s, _ = materialize(lambda: self._curate(rep_docs)[1])
        # the gate has checked that the program's groups equal the oracle's,
        # so the oracle's groups score the program's output
        recall, precision = oracle.dup_scores(want["found_groups"], want["planted"])
        return {
            "dedup.chain_s": chain_s,
            "dedup.exact_s": exact - scan,
            "dedup.minhash_s": minhash_s,
            "dedup.lsh_s": lsh_s,
            "dedup.verify_s": verify_s,
            "dedup.cc_s": cc_s,
            "dedup.cc_jobs": cc_jobs,
            "dedup.candidate_pairs": n_cands,
            "dedup.verified_pairs": n_edges,
            "dedup.verify_yield": n_edges / max(1, n_cands),
            "dup_recall": recall,
            "dup_precision": precision,
            "curation.pipeline_s": curation_s,
            "curation.kept_docs": len(oracle.read_rows(os.path.join(self.out, "keep"), ["id"])),
        }


WORKLOADS = {w.name: w for w in (PagesPipeline, EnrichLookup)}
