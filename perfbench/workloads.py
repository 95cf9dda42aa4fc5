"""The benchmark's workloads, each driven through public entry points only.

A workload has four parts:

- ``prepare``: generate the seeded input and write it as parquet (set-up);
- ``run_once``: one timed iteration, from the input table to every output
  committed, rooted in a fresh directory (so a ``StageStore`` never
  resumes);
- ``digest`` / ``check``: the correctness checks, untimed;
- ``trace_once``: one traced iteration that records spans around each
  public call and returns the per-layer metrics; ``trace_refresh`` adds
  a traced ``refresh_pipeline`` step on ``planted_dupes``.

Layer -> end-to-end metric -> workload, as the per-layer metrics are
expected to move (see README.md for the full table):

- ``features.*``, ``spans.*``  -> job_s, turns_per_s  on planted_dupes
- ``bands.s``/``candidates.*``/``verify.*``/``cluster.*`` -> job_s,
  shuffle_mb on boilerplate_skew (light on planted_dupes)
- ``refresh.*`` -> traced only, on planted_dupes (no gated workload)
- ``checkpoint.*`` -> job_s on both
- ``spark.*`` -> turns_per_s, peak_rss_mb on both
"""

from __future__ import annotations

import hashlib
import time
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import functions as F

from lieu_spark.checkpoint import StageStore
from lieu_spark.config import DedupeConfig
from lieu_spark.operators.refresh import refresh_pipeline
from lieu_spark.operators.verify import (
    STATUS_EXACT,
    STATUS_LIKELY,
    STATUS_REVIEW,
    dupe_pairs,
    verify_pairs,
)
from lieu_spark.pipeline import run_pipeline

from . import gen
from .measure import Tracer, TracedStageStore

# run_pipeline stages whose shuffle bytes are a per-layer metric
SHUFFLE_METRIC = {"conversations": "assemble.shuffle_mb", "candidates": "candidates.shuffle_mb"}
# the state refresh_pipeline reads from a store and returns
STATE_STAGES = ("features", "bands", "verified", "clusters")
# the stage frames a PipelineResult returns (bands are not among them)
RESULT_STAGES = (
    "conversations", "features", "band_stats", "candidates", "verified", "clusters", "spans",
)

# Per-layer metrics no outside probe can see: the span stage's candidate
# set is built inside run_pipeline and never returned.
UNMEASURED = ("spans.pairs_scanned", "spans.useful_ratio")


@dataclass
class Ctx:
    spark: object
    work: Path
    seed: int
    cores: int
    tracer: Tracer | None = None


def cluster_sets(rows) -> frozenset:
    """Clusters with two or more members, as sets of conv ids."""
    groups: dict[str, set] = {}
    for conv_id, cluster_id in rows:
        groups.setdefault(cluster_id, set()).add(conv_id)
    return frozenset(frozenset(g) for g in groups.values() if len(g) > 1)


def digest_of(sets: frozenset) -> str:
    h = hashlib.sha256()
    for members in sorted(sorted(g) for g in sets):
        h.update(",".join(members).encode() + b";")
    return h.hexdigest()[:16]


def clusters_digest(clusters) -> str:
    return digest_of(cluster_sets(clusters.select("conv_id", "cluster_id").collect()))


def dup_pair_recall(spark, cfg, truth, features, verified, clusters=None) -> float:
    """Planted pairs that are byte-exact or have exact Jaccard >=
    threshold_likely (``verify_pairs`` on the truth pairs, as bench.py
    does), and the share of them found: as a duplicate pair in
    ``verified`` (either orientation), or, given ``clusters``, with both
    ends in one cluster."""
    tdf = spark.createDataFrame(truth, "id_a string, id_b string, kind string")
    tv = verify_pairs(tdf.select("id_a", "id_b"), features, cfg, method="truth")
    should = tv.filter((F.col("jaccard") >= cfg.threshold_likely) | F.col("is_exact"))
    should = should.select("id_a", "id_b").collect()
    if not should:
        return 1.0
    if clusters is None:
        found_rows = dupe_pairs(verified).select("id_a", "id_b").collect()
        found = {frozenset(r) for r in found_rows}
        hit = sum(frozenset(r) in found for r in should)
    else:
        cid = dict(clusters.select("conv_id", "cluster_id").collect())
        hit = sum(cid.get(r.id_a) == cid.get(r.id_b) is not None for r in should)
    return hit / len(should)


def stage_spans(tracer: Tracer, t_call: float, walls: dict[str, float]) -> None:
    """Eager run_pipeline runs its stages back to back; rebuild their
    spans from ``stage_wall`` starting at the call time."""
    t = t_call
    for name, wall in walls.items():
        tracer.add(f"stage:{name}", t, t + wall)
        t += wall


class Batch:
    """run_pipeline with a fresh StageStore per iteration."""

    name = "planted_dupes"
    n_convs = 1000
    cfg = DedupeConfig()
    recall_by_cluster = False
    traces_refresh = True

    def generate(self, seed):
        return gen.planted_dupes(seed, self.n_convs)

    def prepare(self, ctx: Ctx) -> None:
        rows, self.truth = self.generate(ctx.seed)
        gen.write_rows(rows, ctx.work / "input")
        self.tdf = ctx.spark.read.parquet(str(ctx.work / "input"))
        self.turns = len(rows)

    def run_once(self, ctx: Ctx, root: Path) -> StageStore:
        store = StageStore(str(root / "store"))
        run_pipeline(ctx.spark, self.tdf, self.cfg, store=store)
        return store

    def digest(self, ctx: Ctx, store: StageStore) -> str:
        return clusters_digest(store.load(ctx.spark, "clusters"))

    def check(self, ctx: Ctx, store: StageStore) -> dict[str, float | bool]:
        """Recall on one iteration's output (untimed)."""
        spark = ctx.spark
        r = dup_pair_recall(
            spark, self.cfg, self.truth, store.load(spark, "features"),
            store.load(spark, "verified"),
            store.load(spark, "clusters") if self.recall_by_cluster else None,
        )
        return {"dup_pair_recall": r, "ok": r >= 0.99}

    def trace_once(self, ctx: Ctx, root: Path) -> tuple[StageStore, dict[str, float]]:
        tr, spark = ctx.tracer, ctx.spark
        out = TracedStageStore(str(root / "store"), tracer=tr)
        with tr.span("iteration"):
            t_call = time.time()
            res = run_pipeline(spark, self.tdf, self.cfg, eager=True)
            # same start as its stages, so containment makes it their parent
            tr.add("run_pipeline", t_call, time.time())
            stage_spans(tr, t_call, res.stage_wall)
            fp = self.cfg.fingerprint()
            for name in RESULT_STAGES:
                out.save(spark, name, getattr(res, name), fp)
        w = res.stage_wall
        cand = res.candidates
        n_cand = cand.count()
        by_source = dict(
            cand.select(F.explode("sources").alias("s")).groupBy("s").count().collect()
        )
        statuses = dict(res.verified.groupBy("status").count().collect())
        useful = sum(statuses.get(s, 0) for s in (STATUS_EXACT, STATUS_LIKELY, STATUS_REVIEW))
        sizes = res.clusters.groupBy("cluster_id").count()
        n_docs = res.conversations.count()
        layer = {
            "assemble.s": w["conversations"],
            "features.s": w["features"],
            "features.docs_per_s": n_docs / w["features"],
            "bands.s": w["bands"] + w["band_stats"],
            "lsh.hot_groups": float(res.band_stats.filter("is_hot").count()),
            "candidates.s": w["candidates"],
            "candidates.pairs": float(n_cand),
            "candidates.pairs_lsh": float(by_source.get("minhash_lsh", 0)),
            "candidates.pairs_simhash": float(by_source.get("simhash", 0)),
            "candidates.pairs_exact": float(by_source.get("exact_sha", 0)),
            "verify.s": w["verified"],
            "verify.pairs": float(sum(statuses.values())),
            "verify.useful_ratio": useful / n_cand if n_cand else 0.0,
            "cluster.s": w["clusters"],
            "cluster.max_size": float(sizes.agg(F.max("count")).first()[0]),
            "spans.s": w["spans"],
            "spans.found": float(res.spans.count()),
        }
        spark.catalog.clearCache()
        return out, layer

    def trace_refresh(self, ctx: Ctx, base: StageStore, root: Path) -> tuple[dict, str, dict]:
        """One traced refresh_pipeline from ``base`` (a run_pipeline store
        of this run's input) onto an edited snapshot, the refreshed state
        written to a fresh store. Returns the layer metrics, the refreshed
        cluster digest and the recall check. The input then becomes the
        new snapshot, so the traced iteration that follows is the
        from-scratch run_pipeline whose clusters the refreshed ones must
        equal (the invariant in operators/refresh.py). Recall counts a
        planted pair found when both ends share a refreshed cluster,
        because refresh may hang an edge off another member of an
        identical-text group than a from-scratch run does."""
        tr, spark = ctx.tracer, ctx.spark
        new_rows, truth = gen.refresh_delta(ctx.seed, self.n_convs)
        gen.write_rows(new_rows, ctx.work / "refresh_input")
        new_df = spark.read.parquet(str(ctx.work / "refresh_input"))
        traced_base = TracedStageStore(base.root, tracer=tr)
        out = TracedStageStore(str(root / "store"), tracer=tr)
        with tr.span("refresh_iteration"):
            with tr.span("refresh"):
                with tr.span("refresh_pipeline"):
                    ref = refresh_pipeline(spark, traced_base, new_df, self.cfg)
                for name in STATE_STAGES:
                    with tr.span(f"refresh.materialize:{name}"):
                        getattr(ref, name).persist().count()
            fp = self.cfg.fingerprint()
            for name in STATE_STAGES:
                out.save(spark, name, getattr(ref, name), fp)
        refresh_s = next(s.dur for s in tr.spans if s.name == "refresh")
        delta = ref.delta.filter(F.col("change") == "delta").select("conv_id")
        old_shas = base.load(spark, "features").select("text_sha")
        featurized = (
            ref.conversations.join(delta, "conv_id", "left_semi")
            .join(old_shas, "text_sha", "left_anti")
            .count()
        )
        layer = {
            "refresh.s": refresh_s,
            "refresh.delta_rows": float(ref.delta.count()),
            "refresh.featurized_docs": float(featurized),
        }
        r = dup_pair_recall(
            spark, self.cfg, truth, out.load(spark, "features"),
            out.load(spark, "verified"), out.load(spark, "clusters"),
        )
        digest = self.digest(ctx, out)
        spark.catalog.clearCache()
        self.tdf = new_df
        return layer, digest, {"refresh_recall": r, "ok": r >= 0.99}


class Skew(Batch):
    """Boilerplate-heavy corpus. The lowered ``hot_band_cap`` makes the
    template band groups hot at benchmark scale, as the default cap does
    at production scale; recall counts a pair found when both ends share
    a cluster, because salting hot groups drops direct pairs by design
    (connected components recovers them)."""

    name = "boilerplate_skew"
    n_convs = 300
    cfg = DedupeConfig(hot_band_cap=32)
    recall_by_cluster = True
    traces_refresh = False

    def generate(self, seed):
        return gen.boilerplate_skew(seed, self.n_convs)


WORKLOADS = {w.name: w for w in (Batch, Skew)}
