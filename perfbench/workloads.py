"""The workloads: what one pass runs, and how its outputs are checked.

Every call into the program goes through a module attribute
(``pipeline.write_snapshot``, ``QUERIES[name]`` ...), so the traced run's
wrappers see it.  A workload's ``ops`` returns the pass as a list of
``(name, kind, fn)``; kind ``"op"`` is a measured operation, kind
``"bench"`` is input preparation by the benchmark, which the pass wall time
does not count.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np

from perfbench import fixtures

#: seed of the query tables, which stay fixed; the workload seed permutes
#: the query order
TABLE_SEED = 42

SCORERS = ["aesthetic", "imaging_quality", "ocr", "motion", "caption"]


def _hash_frame(pdf) -> str:
    from tools.check_correctness import normalize

    text = normalize(pdf).round(9).to_json(orient="split", double_precision=9)
    return hashlib.sha256(text.encode()).hexdigest()[:16]


class QueryWorkload:
    """A seeded permutation of named queries per pass over the generated
    fixture tables; each operation is the query build plus a noop-sink
    exec, and the cache is cleared at the start of every pass."""

    def __init__(self, queries: list[str]):
        self.queries = queries
        self.tables_dir = ""

    def facts(self) -> dict:
        return {"sf": fixtures.SF, "table_seed": TABLE_SEED, "queries": self.queries}

    def prepare(self, ctx) -> None:
        self.tables_dir = fixtures.write_tables(
            os.path.join(ctx.cache_dir,
                         f"tables-sf{fixtures.SF}-seed{TABLE_SEED}-{fixtures.generator_hash()}"),
            TABLE_SEED,
        )

    def ops(self, ctx, pass_index: int):
        # the first pass starts cold and runs the frozen list's order, so
        # the cold start lands on the same queries for every seed; later
        # passes run a seeded permutation
        order = self.queries if pass_index == 0 else fixtures.seeded_order(
            self.queries, ctx.seed, pass_index)
        out = [("clear_cache", "bench", lambda sp: ctx.spark.catalog.clearCache())]
        out += [(q, "op", lambda sp, q=q: self._run(ctx, q)) for q in order]
        return out

    def _run(self, ctx, q: str) -> None:
        from lvm_datapipe_spark import queries

        tracer = ctx.tracer
        with tracer.span("build", "phase"):
            df = queries.QUERIES[q](ctx.spark, self.tables_dir)
        if tracer.enabled:
            with tracer.span("plan", "phase") as sp:
                df._jdf.queryExecution().executedPlan()
            # planning twice is the tracer's cost, not the program's
            tracer.overhead_s += sp.duration
        with tracer.span("exec", "phase"):
            df.write.format("noop").mode("overwrite").save()

    def check(self, ctx) -> tuple[list[str], dict]:
        """Compare every query with its DuckDB oracle SQL on the same
        tables, outside the timed region."""
        import duckdb

        from lvm_datapipe_spark import queries
        from lvm_datapipe_spark.operators.dedup import release
        from tools.check_correctness import compare

        con = duckdb.connect()
        try:
            for t in os.listdir(self.tables_dir):
                if t.endswith(".parquet"):
                    con.execute(
                        f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{os.path.join(self.tables_dir, t)}'"
                    )
            problems, hashes = [], {}
            for q in self.queries:
                df = queries.QUERIES[q](ctx.spark, self.tables_dir)
                try:
                    got = df.toPandas()
                finally:
                    release(df)
                want = self._oracle(ctx, con, queries.ORACLE_SQL[q])
                problems += [f"{q}: {p}" for p in compare(q, got, want)]
                hashes[q] = _hash_frame(got)
        finally:
            con.close()
        return problems, {"checked": list(self.queries), "output_hashes": hashes}

    def _oracle(self, ctx, con, sql: str):
        """DuckDB's result of ``sql``, cached per checkout: the tables are
        fixed, and some oracles take tens of seconds."""
        import pandas as pd

        key = hashlib.sha256((os.path.basename(self.tables_dir) + sql).encode()).hexdigest()[:24]
        path = os.path.join(ctx.cache_dir, f"oracle-{key}.pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        want = con.execute(sql).df()
        want.to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
        return want


class VideoWorkload:
    """The paper's curation pipeline over a seeded FVID corpus, shaped like
    ``cli.py scenecut`` then ``cli.py score`` per scorer, then a resume pass
    over a snapshot whose seeded share of rows has its scores nulled."""

    def __init__(self, clips: int, resume_frac: float, rescored_clips: int):
        self.clips = clips
        self.video_ids: list[str] = []
        self.resume_frac = resume_frac
        self.rescored_clips = rescored_clips
        #: video id -> (scenes generated, scenes a content-delta detector at
        #: the default threshold can tell apart)
        self.scenes: dict[str, tuple[int, int]] = {}
        self.corpus_bytes = 0
        self.corpus_hash = ""

    def facts(self) -> dict:
        return {
            "videos": len(self.video_ids),
            "corpus_bytes": self.corpus_bytes,
            "corpus_hash": self.corpus_hash,
            "resume_frac": self.resume_frac,
        }

    def prepare(self, ctx) -> None:
        corpus = os.path.join(ctx.work_dir, "corpus")
        from lvm_datapipe_spark import fakevideo
        from lvm_datapipe_spark.operators import scenecut

        self.video_ids = fixtures.corpus_ids(ctx.seed, self.clips, scenecut.DEFAULT_THRESHOLD)
        paths = fakevideo.write_corpus(corpus, self.video_ids)
        self.corpus_bytes = sum(os.path.getsize(p) for p in paths)
        self.corpus_hash = fixtures.tree_hash(corpus)[:16]
        self.scenes = fixtures.scene_counts(self.video_ids, scenecut.DEFAULT_THRESHOLD)

    def _snap(self, ctx, pass_index: int, name: str) -> str:
        return os.path.join(ctx.work_dir, f"pass{pass_index}", name)

    def ops(self, ctx, pass_index: int):
        snap = lambda name: self._snap(ctx, pass_index, name)  # noqa: E731
        out = [("scenecut", "op", lambda sp: self._scenecut(ctx, snap("stage0")))]
        for i, scorer in enumerate(SCORERS):
            out.append((f"score:{scorer}", "op",
                        lambda sp, i=i, s=scorer: self._score(ctx, s, snap(f"stage{i}"), snap(f"stage{i + 1}"))))
        last = len(SCORERS)
        out.append(("resume_prep", "bench",
                    lambda sp: self._null_subset(ctx, snap(f"stage{last}"), snap("resume0"))))
        for i, scorer in enumerate(SCORERS):
            out.append((f"resume:{scorer}", "op",
                        lambda sp, i=i, s=scorer: self._score(ctx, s, snap(f"resume{i}"), snap(f"resume{i + 1}"))))
        return out

    def _scenecut(self, ctx, out: str) -> None:
        from pyspark.sql import functions as F

        from lvm_datapipe_spark.operators import media, scenecut
        from lvm_datapipe_spark.plans import pipeline
        from lvm_datapipe_spark.sources import video

        with ctx.tracer.span("stage", "phase"):
            videos = video.scan_video_dir(ctx.spark, os.path.join(ctx.work_dir, "corpus"))
            clips = scenecut.scene_cut(videos)
            base = media.probe_videos(clips, content_col="clip_content").select(
                "video_id", "clip_id", "clip_index", "start_frame", "end_frame",
                "start_s", "end_s", "clip_duration",
                F.col("clip_content").alias("content"),
                F.col("probe.height").alias("height"),
                F.col("probe.width").alias("width"),
                F.col("probe.n_frames").alias("n_frames"),
            )
            pipeline.write_snapshot(base, out)

    def _score(self, ctx, scorer: str, src: str, out: str) -> None:
        from lvm_datapipe_spark.operators import media
        from lvm_datapipe_spark.plans import pipeline

        def score(df):
            return media.apply_scorer(media.with_sampled_frames(df), scorer).drop("frames")

        with ctx.tracer.span("stage", "phase"):
            snap = pipeline.read_snapshot(ctx.spark, src)
            done = pipeline.run_stage(snap, score, _score_col(scorer))
            pipeline.write_snapshot(done, out)

    def resume_filter(self, ctx):
        """Seeded choice of the rows whose scores the resume pass redoes."""
        from pyspark.sql import functions as F

        bucket = F.abs(F.xxhash64(F.lit(ctx.seed), F.col("clip_id"))) % 1000
        return bucket < int(self.resume_frac * 1000)

    def _null_subset(self, ctx, src: str, out: str) -> None:
        from pyspark.sql import functions as F

        df = ctx.spark.read.parquet(src)
        redo = self.resume_filter(ctx)
        for scorer in SCORERS:
            col = _score_col(scorer)
            df = df.withColumn(col, F.when(redo, F.lit(None)).otherwise(F.col(col)))
        df.write.mode("overwrite").parquet(out)

    def check(self, ctx) -> tuple[list[str], dict]:
        from pyspark.sql import functions as F

        from lvm_datapipe_spark.operators import media
        from lvm_datapipe_spark.operators.model_adapters import resolve_kernel

        spark, problems = ctx.spark, []
        cols = [_score_col(s) for s in SCORERS]
        last = len(SCORERS)
        base = spark.read.parquet(self._snap(ctx, 0, "stage0"))
        got = {r["video_id"]: r["n"] for r in base.groupBy("video_id").count().withColumnRenamed("count", "n").collect()}
        # fakevideo spaces scene levels 27.1 grey levels apart, under the
        # detector's default threshold of 30, so adjacent scenes that close
        # are one clip: clips are checked against the scenes the threshold
        # separates, and the generated count is reported beside them
        want = {v: d for v, (_, d) in self.scenes.items()}
        if got != want:
            bad = sorted(v for v in want if got.get(v) != want[v])
            problems.append(f"clip counts differ from detectable scene counts for {len(bad)} videos, e.g. {bad[:3]}")
        full = spark.read.parquet(self._snap(ctx, 0, f"stage{last}")).drop("content").toPandas()
        resumed = spark.read.parquet(self._snap(ctx, 0, f"resume{last}")).drop("content").toPandas()
        redo = spark.read.parquet(self._snap(ctx, 0, "stage0")).filter(self.resume_filter(ctx)).count()
        nulls = int(full[cols].isna().sum().sum() + resumed[cols].isna().sum().sum())
        if nulls:
            problems.append(f"{nulls} null scores after the full and resume passes")
        key = "clip_id"
        full_hash, resumed_hash = _hash_frame(full[[key] + cols]), _hash_frame(resumed[[key] + cols])
        if full_hash != resumed_hash:
            problems.append("resume pass changed scores: rows differ from the full pass")
        # re-score a seeded sample of clips on the driver with the kernels
        rng = np.random.default_rng([ctx.seed, 11])
        ids = sorted(rng.choice(sorted(full[key]), self.rescored_clips, replace=False))
        rows = spark.read.parquet(self._snap(ctx, 0, f"stage{last}")).filter(F.col(key).isin(ids)).collect()
        for row in rows:
            idx = media._indices_for_policy(int(row["n_frames"]), "fractions", 10)
            frames = media._decode_frames(row["content"], idx, (row["height"], row["width"]))
            arrays = media._frames_to_arrays(frames, row["height"], row["width"])
            for scorer in SCORERS:
                col, (stub, _) = media.SCORERS[scorer]
                want = resolve_kernel(scorer, stub)(arrays, row["height"], row["width"])
                if not _close(row[col], want):
                    problems.append(f"{row[key]} {col}: pipeline {row[col]!r} != kernel {want!r}")
        facts = {
            "clips": int(len(full)),
            "scenes_generated": sum(g for g, _ in self.scenes.values()),
            "scenes_detectable": sum(d for _, d in self.scenes.values()),
            "resume_rows": int(redo),
            "null_scores": nulls,
            "output_hashes": {"full": full_hash, "resume": resumed_hash},
            "rescored": ids,
        }
        return problems, facts


def _score_col(scorer: str) -> str:
    from lvm_datapipe_spark.operators import media

    return media.SCORERS[scorer][0]


def _close(a, b) -> bool:
    if isinstance(b, (list, tuple)) or isinstance(a, (list, tuple)):
        return a is not None and len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if isinstance(b, float):
        return a is not None and abs(a - b) <= 1e-9 * max(1.0, abs(b))
    return a == b


#: the query list comes from bench.py's frozen lists by import.  It is the
#: subset that fits the benchmark's time budget: eight COMMON_16 queries
#: and, from CENSUS_5, graph_supplier_triangles, so the graph layer and a
#: size-gated driver kernel are measured too.
def query_mix() -> QueryWorkload:
    import bench

    picked = ["q1_pricing_summary", "j2_enrichment_join", "w1_clip_numbering", "a6_histogram",
              "f2_resume_anti_join", "dedup_minhash_lsh", "ann_cosine_topk", "text_quality",
              "graph_supplier_triangles"]
    queries = [q for q in bench.COMMON_16 + bench.CENSUS_5 if q in picked]
    return QueryWorkload(queries)


def video_curation() -> VideoWorkload:
    return VideoWorkload(clips=80, resume_frac=0.25, rescored_clips=4)


WORKLOADS = {
    "video_curation": video_curation,
    "query_mix": query_mix,
}
