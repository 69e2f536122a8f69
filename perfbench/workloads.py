"""The benchmark's workloads.

Each workload generates its inputs from the seed with the engine's
``datagen`` (the load generator, not a layer under test), runs one
job per :meth:`job` call through the engine's public API, and checks
every job's output against references computed once per run.

Lazy layers are timed as isolated legs: the layer's output over a
``localCheckpoint``-ed input is materialized to the noop sink, and a
scan-only leg over the same input is subtracted. ``localCheckpoint``
rather than ``cache`` keeps Spark from serving a layer's own cached
output in place of running it.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from protosc_spark import backfill
from protosc_spark.asof import asof_join
from protosc_spark.backfill import incremental_backfill
from protosc_spark.checkpoint import read_manifests, read_output, run_resumable
from protosc_spark.datagen import (
    generate_attribute_updates,
    generate_transcripts_dirty,
)
from protosc_spark.extract import add_random_features, extract
from protosc_spark.features.text import default_text_extractors
from protosc_spark.folds import with_fold_id
from protosc_spark.models import filter_model
from protosc_spark.models.filter_model import FilterModel
from protosc_spark.oracle.pandas_flagship import oracle_flagship
from protosc_spark.ordering import stable_dedup
from protosc_spark.pipeline import flagship_features
from protosc_spark.tables import snapshot_read, snapshot_upsert, snapshot_write
from protosc_spark.windows import rolling_agg, sessionize, with_lag_lead

LEG_REPS = 2
KEY_COLS = ("conv_id", "turn_idx", "features")


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def digest_exprs():
    """Order-insensitive digest of rows: count, xor and sum of xxhash64
    over KEY_COLS. The sum is taken mod 2**40 per row so it cannot
    overflow."""
    h = F.xxhash64(*KEY_COLS)
    return (
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(h).alias("xor"),
        F.sum(F.pmod(h, F.lit(1 << 40))).alias("sum"),
    )


def noop_digest(df: DataFrame) -> dict:
    """Materialize ``df`` to the noop sink and return its digest,
    computed in the same pass."""
    obs = Observation()
    noop(df.observe(obs, *digest_exprs()))
    return dict(obs.get)


def table_digest(df: DataFrame) -> dict:
    return df.agg(*digest_exprs()).first().asDict()


def leg_s(df: DataFrame) -> float:
    """Median wall time to materialize ``df`` to the noop sink."""
    walls = []
    for _ in range(LEG_REPS):
        t0 = time.perf_counter()
        noop(df)
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def days_of(df: DataFrame) -> list[str]:
    return sorted(
        str(r["d"]) for r in df.select(F.to_date("ts").alias("d")).distinct().collect()
    )


def dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(root, fn))
        for root, _dirs, fns in os.walk(path)
        for fn in fns
    ) / 2**20


def fill_turns(tr: DataFrame, seed: int, turns: int) -> list[str]:
    """Whole conversations, taken in seeded hash order while they fit,
    holding close to ``turns`` rows in all.

    The long-conversation tail makes the row count of a fixed number of
    conversations swing by a tenth from seed to seed; a fixed row budget
    keeps the work per job the same for every seed.
    """
    sizes = tr.groupBy("conv_id").count().orderBy(
        F.xxhash64(F.lit(seed), "conv_id")
    ).collect()
    keep, total = [], 0
    for r in sizes:
        if total + r["count"] <= turns:
            keep.append(r["conv_id"])
            total += r["count"]
    if total < 0.99 * turns:
        raise RuntimeError(f"only {total} of {turns} turns generated")
    return keep


class Workload:
    """One named workload. ``spark``, ``seed`` and ``work`` (a scratch
    directory inside the checkout) are fixed for the life of the object;
    a new object is made for every set-up."""

    name = ""
    # jobs run after the references, so the timed loop starts warm
    WARMUP_JOBS = 0

    def __init__(self, spark, seed: int, work: str) -> None:
        self.spark = spark
        self.seed = seed
        self.work = work
        self.turns = 0  # input turns fed to one job
        self._held: list[DataFrame] = []

    def hold(self, df: DataFrame) -> DataFrame:
        """Materialize ``df`` with ``localCheckpoint`` until :meth:`release`."""
        df = df.localCheckpoint(eager=True)
        self._held.append(df)
        return df

    def release(self) -> None:
        """Free the blocks of every held DataFrame. ``unpersist`` does
        not: a local checkpoint is an RDD under the plan, not a cached
        plan."""
        while self._held:
            self._held.pop()._jdf.queryExecution().analyzed().rdd().unpersist(True)

    def setup(self) -> None:
        """Generate and materialize the inputs."""
        raise NotImplementedError

    def reference(self) -> None:
        """Compute, once after set-up, the references the job checks
        compare against (this also warms the engine)."""
        raise NotImplementedError

    def job(self, i: int, tracer):
        """Run job ``i``; return what :meth:`check` needs."""
        raise NotImplementedError

    def check(self, result) -> str | None:
        """None if the job's output is correct, else the reason."""
        raise NotImplementedError

    def oracle_check(self) -> str | None:
        """Once per run, after set-up: None if a check against an
        independent oracle passes, else the reason."""
        return None

    def trace_calls(self, tracer) -> None:
        """Wrap the engine calls a traced job should record spans for."""

    def legs(self, tracer, rest) -> dict:
        """Per-layer metrics from isolated legs (traced runs only)."""
        raise NotImplementedError


class FlagshipBatch(Workload):
    """``flagship_features`` over dirty transcripts to the noop sink."""

    name = "flagship_batch"
    # the JIT keeps compiling through the first jobs: CPU per job falls
    # by a third from the reference job to the third job, and by a few
    # percent a job after that
    WARMUP_JOBS = 2
    N_CONV = 3300
    TURNS = 80000
    UPDATES_PER_CONV = 8
    ORACLE_CONVS = 12

    def setup(self) -> None:
        tr = generate_transcripts_dirty(self.spark, self.N_CONV, self.seed)
        up = generate_attribute_updates(
            self.spark, self.N_CONV, self.seed, self.UPDATES_PER_CONV
        )
        keep = F.broadcast(self.spark.createDataFrame(
            [(c,) for c in fill_turns(tr, self.seed, self.TURNS)], "conv_id string"
        ))
        self.tr = self.hold(tr.join(keep, "conv_id", "left_semi"))
        self.up = self.hold(up.join(keep, "conv_id", "left_semi"))
        self.turns = self.tr.count()

    def reference(self) -> None:
        out, _ = flagship_features(self.tr, self.up)
        self.ref = noop_digest(out)

    def oracle_check(self) -> str | None:
        """A sample of conversations must match the pandas oracle."""
        convs = [
            r["conv_id"]
            for r in self.tr.select("conv_id").distinct().orderBy(
                F.xxhash64(F.lit(self.seed), "conv_id")
            ).limit(self.ORACLE_CONVS).collect()
        ]
        pick = F.col("conv_id").isin(convs)
        out, _ = flagship_features(self.tr, self.up)
        got = out.where(pick).orderBy("conv_id", "turn_idx").toPandas()
        want = oracle_flagship(
            self.tr.where(pick).toPandas(), self.up.where(pick).toPandas()
        )
        if len(got) != len(want) or not (
            (got["conv_id"].values == want["conv_id"].values).all()
            and (got["turn_idx"].values == want["turn_idx"].values).all()
        ):
            return "oracle sample: keys differ"
        g = np.array(got["features"].tolist())
        w = np.array(want["features"].tolist())
        if g.shape != w.shape or not np.isclose(g, w, atol=1e-9, equal_nan=True).all():
            return "oracle sample: features differ"
        return None

    def job(self, i: int, tracer):
        with tracer.span("pipeline.plan"):
            out, _ = flagship_features(self.tr, self.up)
        with tracer.span("pipeline.materialize"):
            return noop_digest(out)

    def check(self, result) -> str | None:
        return None if result == self.ref else f"digest {result} != {self.ref}"

    def legs(self, tracer, rest) -> dict:
        res = pipeline_legs(self, tracer, rest)
        res.update(checkpoint_leg(self, tracer))
        return res


def window_leg(df: DataFrame) -> DataFrame:
    """The window layer's calls as the pipeline makes them: lag/lead,
    rolling mean and gap sessionization over one conv_id shuffle."""
    df = df.withColumn("n_tokens", F.size(F.split(F.col("text"), " ")).cast("double"))
    df = with_lag_lead(df, {"nt": "n_tokens", "pts": "ts"}, order="turn_idx")
    df = rolling_agg(df, {"roll_mean_tokens5": F.avg("n_tokens")}, n_rows=5,
                     order="turn_idx")
    return sessionize(df, gap_seconds=1800, order=["turn_idx"])


def set_group(spark, name: str) -> None:
    """Tag the Spark jobs that follow, so their metrics can be read back."""
    spark.sparkContext.setJobGroup(name, name)


def traced_job_s(tracer) -> float:
    """Median wall time of the traced jobs."""
    jobs = {s["job"] for s in tracer.spans if s["job"] is not None}
    return statistics.median(tracer.busy("job", j) for j in jobs)


def pipeline_legs(wl: Workload, tracer, rest) -> dict:
    """Isolated legs of the layers ``flagship_features`` composes.

    Each layer's busy time is its leg minus the scan-only leg over the
    same input. The pipeline's own share is the traced job's wall time
    minus the scan and every child layer, so it also holds the driver's
    plan time, the digest and the gaps between Spark jobs.
    """
    spark, tr, up = wl.spark, wl.tr, wl.up
    dedup = wl.hold(stable_dedup(tr))
    rows_in, rows_kept = tr.count(), dedup.count()
    scan_tr, scan_d = leg_s(tr), leg_s(dedup)
    ordering = leg_s(stable_dedup(tr)) - scan_tr
    windows = leg_s(window_leg(dedup)) - scan_d
    joined = asof_join(dedup, up, on="ts", by="conv_id", value_cols=["attr_value"])
    asof = leg_s(joined) - scan_d
    matched = joined.where(F.col("attr_value").isNotNull()).count()
    ext, _ = extract(dedup, default_text_extractors(),
                     keep_cols=["conv_id", "turn_idx", "ts"])
    set_group(spark, "leg-extract")
    wall = leg_s(ext)
    extract_s = wall - scan_d
    py = {k: v / LEG_REPS for k, v in
          rest.group_metrics("leg-extract", wall).items()}
    out, _ = flagship_features(tr, up)
    set_group(spark, "leg-pipeline")
    full = leg_s(out)
    busy = full - scan_tr
    return {
        "ordering.busy_s": ordering,
        "ordering.rows_in": rows_in,
        "ordering.keep_ratio": rows_kept / rows_in,
        "windows.busy_s": windows,
        "asof.busy_s": asof,
        "asof.rows_right": up.count(),
        "asof.match_ratio": matched / rows_kept,
        "extract.busy_s": extract_s,
        "extract.python_rows": py["python_rows"],
        "extract.python_mb_sent": py["python_mb_sent"],
        "pipeline.scan_s": scan_tr,
        "pipeline.busy_s": busy,
        "pipeline.self_s": traced_job_s(tracer) - scan_tr
        - (ordering + windows + asof + extract_s),
    }


N_BUCKETS = 16
BUCKETS_PER_WAVE = 4


def checkpoint_leg(wl: Workload, tracer) -> dict:
    """The window and as-of plan (no text extractors) written through
    ``run_resumable`` into a fresh directory, against the same plan to
    the noop sink. The output read back must match that plan's digest."""
    plan, _ = flagship_features(wl.tr, wl.up, extractors=[])
    t0 = time.perf_counter()
    want = noop_digest(plan)
    noop_s = time.perf_counter() - t0
    out_dir = os.path.join(wl.work, "checkpoint-leg")
    with tracer.span("checkpoint.run_resumable"):
        m = run_resumable(lambda _s: plan, out_dir, n_buckets=N_BUCKETS,
                          buckets_per_wave=BUCKETS_PER_WAVE, spark=wl.spark)
    busy = tracer.busy("checkpoint.run_resumable")
    got = table_digest(read_output(wl.spark, out_dir))
    res = {
        "checkpoint.busy_s": busy,
        "checkpoint.waves": len({e["wave"] for e in read_manifests(out_dir)}),
        "checkpoint.write_mb": dir_mb(out_dir),
        "checkpoint.useful_ratio": noop_s / busy,
    }
    shutil.rmtree(out_dir)
    if got != want or m["rows_total"] != want["n"]:
        raise AssertionError(f"run_resumable output {got} != {want}")
    return res


def backfill_leg(wl: Workload, tracer) -> dict:
    """One daily backfill over fresh snapshot tables: the transcript
    table holds every day up to day D, the feature table everything
    before D; D lands, is merged, and is backfilled. The feature
    table must then equal a from-scratch flagship run."""
    clean = wl.hold(stable_dedup(wl.tr))
    days = days_of(clean)
    day = days[2 * len(days) // 3]
    upto = clean.where(F.to_date("ts") <= F.lit(day).cast("date"))
    before = clean.where(F.to_date("ts") < F.lit(day).cast("date"))
    tpath = os.path.join(wl.work, "bf-transcripts")
    fpath = os.path.join(wl.work, "bf-features")
    snapshot_write(before, tpath)
    feats0, _ = flagship_features(before)
    snapshot_write(feats0, fpath)
    snapshot_upsert(wl.spark, tpath,
                    clean.where(F.to_date("ts") == F.lit(day).cast("date")))
    day_turns = clean.where(F.to_date("ts") == F.lit(day).cast("date")).count()

    tracer.wrap(backfill, "snapshot_upsert", "tables.snapshot_upsert")
    try:
        with tracer.span("backfill.incremental_backfill"):
            m = incremental_backfill(wl.spark, tpath, fpath, day)
    finally:
        tracer.unwrap()
    prefix = f"s{m['snapshot_id']:08d}-"
    files = sum(
        fn.startswith(prefix) and fn.endswith(".parquet")
        for _r, _d, fns in os.walk(fpath) for fn in fns
    )
    want, _ = flagship_features(upto)
    got = snapshot_read(wl.spark, fpath).select(*want.columns)
    if table_digest(got) != table_digest(want):
        raise AssertionError("backfilled feature table != from-scratch run")
    return {
        "tables.upsert_busy_s": tracer.busy("tables.snapshot_upsert"),
        "tables.files_written": files,
        "backfill.busy_s": tracer.busy("backfill.incremental_backfill"),
        "backfill.rows_refreshed": m["n_rows_refreshed"],
        "backfill.useful_ratio": day_turns / m["n_rows_refreshed"],
    }


class FilterSelect(Workload):
    """Distributed chi-square filter selection over flagship feature
    vectors plus random probe features; the label is the
    assistant-role one-hot feature."""

    name = "filter_select"
    # the first distributed jobs take up to three times the CPU of
    # later ones
    WARMUP_JOBS = 3
    N_CONV = 200
    N_ROWS = 3000
    N_PROBES = 10
    N_FOLD = 2
    LABEL = "role_onehot:role_assistant"

    def setup(self) -> None:
        self.tr = generate_transcripts_dirty(self.spark, self.N_CONV, self.seed)
        up = generate_attribute_updates(self.spark, self.N_CONV, self.seed)
        out, reg = flagship_features(self.tr, up)
        out, reg = add_random_features(out, reg, self.N_PROBES, seed=self.seed)
        label = reg.entries[reg.index_of(self.LABEL)]["col_ids"][0]
        # a fixed number of rows, so every seed feeds the model the same
        # amount of work
        self.fv = self.hold(out.select(
            F.concat_ws(":", "conv_id", F.format_string("%06d", "turn_idx"))
            .alias("sample_id"),
            "features",
            F.col("features")[label].cast("int").alias("y"),
        ).orderBy(F.xxhash64(F.lit(self.seed), "sample_id")).limit(self.N_ROWS))
        self.turns = self.fv.count()
        if self.turns != self.N_ROWS:
            raise RuntimeError(f"{self.turns} feature vectors, need {self.N_ROWS}")

    def reference(self) -> None:
        self.ref = sorted(self.model().execute(
            self.fv, fold_seed=self.seed, seed=self.seed, mode="local"
        ))

    def model(self) -> FilterModel:
        return FilterModel(n_fold=self.N_FOLD)

    def job(self, i: int, tracer):
        return self.model().execute(
            self.fv, fold_seed=self.seed, seed=self.seed, mode="distributed"
        )

    def check(self, result) -> str | None:
        # the selection is a set of feature ids; its list order follows
        # fold iteration and is not part of the contract
        got = sorted(result)
        return None if got == self.ref else f"selection {got} != {self.ref}"

    TRACED = (
        ("chisquare_features", "stats.chisq"),
        ("correlation_submatrix", "stats.corr"),
        ("select_from_stats", "select"),
        ("linear_classifier_accuracy", "numerics.classifier"),
        ("null_accuracy_distribution", "numerics.null"),
        ("_collect_submatrix", "filter_model.collect"),
    )

    def trace_calls(self, tracer) -> None:
        """Record spans around the calls FilterModel makes into the
        stats, select and numerics layers."""
        for attr, name in self.TRACED:
            tracer.wrap(filter_model, attr, name)

    def legs(self, tracer, rest) -> dict:
        scan = leg_s(self.fv)
        walls = []
        for _ in range(LEG_REPS):
            t0 = time.perf_counter()
            noop(with_fold_id(self.fv, "sample_id", label_col="y",
                              k=self.N_FOLD, fold_seed=self.seed))
            walls.append(time.perf_counter() - t0)
        folds = statistics.median(walls) - scan
        jobs = sorted({s["job"] for s in tracer.spans if s["job"] is not None})
        per_job = []
        for j in jobs:
            wall = tracer.busy("job", j)
            parts = {
                "stats.chisq_busy_s": tracer.busy("stats.chisq", j),
                "stats.corr_busy_s": tracer.busy("stats.corr", j),
                "select.busy_s": tracer.self_time("select", j),
                "numerics.busy_s": tracer.busy("numerics.classifier", j)
                + tracer.busy("numerics.null", j),
                "filter_model.collect_s": tracer.busy("filter_model.collect", j),
            }
            parts["filter_model.self_s"] = wall - folds - sum(parts.values())
            parts["stats.chisq_calls"] = tracer.calls("stats.chisq", j)
            parts["stats.corr_calls"] = tracer.calls("stats.corr", j)
            per_job.append(parts)
        res = {
            k: statistics.median(p[k] for p in per_job) for k in per_job[0]
        }
        res["folds.busy_s"] = folds
        # the backfill leg runs here to share the traced runs' time
        # evenly between the workloads; it touches neither job
        res.update(backfill_leg(self, tracer))
        return res


WORKLOADS = {w.name: w for w in (FlagshipBatch, FilterSelect)}
