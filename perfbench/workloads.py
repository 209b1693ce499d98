"""The benchmark's workloads. Each is a closed loop: one driver process, one
operation in flight, the next step starts when the previous one returns.

A workload object is used in this order: ``load()`` makes every input from
the seed (outside any timer), ``attach(spark)`` hands it a session, then
``setup()`` runs several times, ``step()`` repeats for the measured window and
``check()`` compares the outputs with an oracle, with no timer running.
The program under test receives only the generated inputs.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import time

import pandas as pd

# Sizes are chosen so that a run, including a cold JVM, stays near a minute
# on a 4-core host: each step is dominated by the per-job floor of the layers
# it calls, not by data volume.
SIZES = {
    "cdc_tail": {
        "full": dict(n_convs=1000, boot_epochs=2, boot_events=2_500, epoch_events=250,
                     n_buckets=8, pool=16, setup_reps=3),
        "toy": dict(n_convs=50, boot_epochs=2, boot_events=250, epoch_events=50,
                    n_buckets=4, pool=8, setup_reps=1),
    },
    "registry": {
        "full": dict(setup_reps=3, extras=True),
        "toy": dict(setup_reps=1, extras=False),
    },
}

# The cheapest query of each operator module: together they show the
# per-query floor (DataFrame build, eager jobs, planning, small execution).
# A full pass of all 75 operators takes ~70 s warm on 4 cores, too long for a
# run; the iterative ones are timed per layer, in the traced run.
REGISTRY_SUBSET = [
    "q01_pricing_summary",       # relational
    "q26_grouped_apply_stats",   # advanced
    "d01_exact_dedup",           # textops
    "e01_cosine_topk",           # embeddings
    "m02_frame_sample",          # multimodal
    "q32a_flow_reduction",       # flow
    "q35_asof_enrich",           # cdcops
]
REGISTRY_TOY = ["q01_pricing_summary", "m02_frame_sample", "q35_asof_enrich"]
# Queries whose own time is reported per layer. Those outside the subset run
# once each, after the measured window, in the traced run only.
REGISTRY_NAMED = [
    "d08_dup_clusters", "e09_kmeans_centroids", "e13_ivf_pq_topk", "q31_closeness",
    "q33_betweenness", "q28_pagerank", "e11_pq_codebooks", "q02_revenue_by_nation",
    "d07_jaccard_pairs", "d05_minhash_lsh_pairs",
]
REGISTRY_MODULES = ["relational", "advanced", "textops", "embeddings", "multimodal",
                    "flow", "cdcops"]
ORACLE_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"]


def dir_files(path: str, suffix: str = ".parquet") -> dict[str, int]:
    """{file path: size} of the data files under ``path``."""
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(suffix):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


class CdcTail:
    """Land one small epoch, apply it epoch-at-a-time, refresh gold
    incrementally — the freshness path. Set-up bootstraps silver and gold
    from a backlog with one catch-up merge and a full gold build, so the
    catch-up path is traced there."""

    name = "cdc_tail"
    # the measured window ends on a round boundary, so a run always has at
    # least two epochs to take a median of
    steps_per_round = 2
    # set-up warms only the full gold build; one untimed epoch warms the
    # incremental refresh path, whose first call is ~40% slower
    warmup_steps = 1

    def __init__(self, seed: int, size: str, workdir: str):
        self.seed = seed
        self.p = SIZES[self.name][size]
        self.workdir = workdir
        self.spark = None
        self.engine = None
        self.steps_done = 0
        self.layer: dict[str, list[float]] = {}

    def _cfg(self, events: int):
        from citibike_pipeline_spark.cdc.generator import GenConfig

        # all epochs carry schema v2 (with `tool`); the tables start at v1,
        # so the evolution seam is crossed by the first bootstrap epoch
        return GenConfig(n_convs=self.p["n_convs"], events_per_epoch=events,
                         seed=self.seed, evolution_epoch=0)

    def load(self) -> None:
        from citibike_pipeline_spark.cdc.generator import generate_epoch

        boot = self._cfg(self.p["boot_events"])
        self.boot = [generate_epoch(boot, e) for e in range(self.p["boot_epochs"])]
        # LSNs are (epoch * events_per_epoch + i) * 4, so tail epochs are
        # numbered past the backlog's LSN range: tail events are newer.
        self.first_tail = self.p["boot_epochs"] * self.p["boot_events"] // self.p["epoch_events"] + 1
        tail = self._cfg(self.p["epoch_events"])
        self.tail = [generate_epoch(tail, self.first_tail + i) for i in range(self.p["pool"])]

    def properties(self) -> dict:
        both = pd.concat(self.boot + self.tail, ignore_index=True)
        cfg = self._cfg(self.p["epoch_events"])
        hot = both["conv_id"].isin([f"conv_{i:08d}" for i in range(cfg.n_hot)]).mean()
        return {
            "bootstrap_events": int(sum(len(f) for f in self.boot)),
            "epoch_events": int(statistics.median(len(f) for f in self.tail)),
            "hot_conversation_share": round(float(hot), 4),
            "redelivery_frac": cfg.redelivery_frac,
            "tie_frac": cfg.tie_frac,
            "n_buckets": self.p["n_buckets"],
        }

    def attach(self, spark) -> None:
        self.spark = spark
        if self.engine is not None:
            self.engine = self._engine(self.engine.warehouse)

    def _engine(self, warehouse: str):
        from citibike_pipeline_spark.cdc import CdcEngine

        return CdcEngine(self.spark, warehouse, n_buckets=self.p["n_buckets"])

    def setup(self, rep: int, tracer) -> None:
        """Bootstrap a fresh warehouse: land the two-epoch backlog and apply
        it with one catch-up merge (``apply_epochs``). ``finish_setup`` then builds gold once, on the last
        warehouse: a full gold build costs ~6 s warm, too much to repeat."""
        if self.engine is not None:
            shutil.rmtree(self.engine.warehouse, ignore_errors=True)
        eng = self._engine(os.path.join(self.workdir, f"cdc_rep{rep}"))
        eng.init_tables()
        with tracer.span("bronze.land"):
            for e, frame in enumerate(self.boot):
                eng.ingest_epoch_pandas(frame, e)
        with tracer.span("silver.replay"):
            m = eng.replay()
        merge = (m[0].get("phases") or {}).get("merge") if m else None
        if merge is not None:
            self._record("silver.merge_s", merge)
        self.engine = eng
        self.steps_done = 0

    def finish_setup(self, tracer) -> float:
        """Full gold build over the bootstrapped silver; returns seconds."""
        from citibike_pipeline_spark.plans import update_gold

        t0 = time.perf_counter()
        with tracer.span("gold.build"):
            update_gold(self.engine)
        dt = time.perf_counter() - t0
        self._record("gold.build_s", dt)
        return dt

    def _record(self, key: str, value: float) -> None:
        self.layer.setdefault(key, []).append(value)

    def extras(self, tracer) -> None:
        pass

    def layer_values(self) -> dict[str, float]:
        """Per-layer figures: the median of each recorded series."""
        return {k: statistics.median(v) for k, v in self.layer.items()}

    def step(self, i: int | None, tracer, detail: bool) -> tuple[float, int]:
        """One epoch: land, apply, refresh gold. Returns (seconds, events).
        ``i`` is None for the warm-up epoch that ends set-up."""
        from citibike_pipeline_spark.plans import update_gold

        if self.steps_done >= len(self.tail):
            raise RuntimeError("tail epoch pool exhausted; raise SIZES pool")
        frame = self.tail[self.steps_done]
        epoch = self.first_tail + self.steps_done
        eng = self.engine
        silver_dir = eng.silver.path
        before = dir_files(silver_dir) if detail else None
        t0 = time.perf_counter()
        with tracer.span("step", step=i):
            with tracer.span("bronze.land") as s_land:
                eng.ingest_epoch_pandas(frame, epoch)
            t1 = time.perf_counter()
            with tracer.span("silver.apply") as s_apply:
                m = eng.replay(catchup=False)
            t2 = time.perf_counter()
            with tracer.span("gold.refresh") as s_gold:
                g = update_gold(eng)
            t3 = time.perf_counter()
        self.steps_done += 1
        events = sum(int(x.get("events_read", 0)) for x in m)
        if detail:
            after = dir_files(silver_dir)
            new = [p for p in after if p not in before]
            landed = dir_files(os.path.join(eng.bronze.path, f"epoch={epoch}"))
            self._record("bronze.land_s", t1 - t0)
            self._record("silver.apply_s", t2 - t1)
            self._record("gold.refresh_s", t3 - t2)
            self._record("bronze.jobs", s_land.jobs)
            self._record("silver.jobs", s_apply.jobs)
            self._record("gold.jobs", s_gold.jobs)
            self._record("bronze.bytes_per_event", sum(landed.values()) / max(len(frame), 1))
            self._record("silver.buckets_touched_share",
                         sum(int(x.get("buckets_touched", 0)) for x in m) / self.p["n_buckets"])
            self._record("silver.bytes_written", sum(after[p] for p in new))
            self._record("silver.files_written", len(new))
            self._record("gold.buckets_touched", sum(g.get("buckets_touched", {}).values()))
        return t3 - t0, events

    def check(self) -> list[str]:
        """Silver and gold.conv_stats against the pandas oracle over exactly
        the events landed in the final warehouse."""
        from citibike_pipeline_spark.cdc.oracle import expected_conv_stats, expected_silver
        from citibike_pipeline_spark.cdc.schemas import TURN_COLUMNS

        frames = []
        for f in self.boot + self.tail[: self.steps_done]:
            if "tool" not in f.columns:
                f = f.copy()
                f.insert(6, "tool", None)
            frames.append(f)
        want = expected_silver(pd.concat(frames, ignore_index=True))
        cols = TURN_COLUMNS + ["lsn"]
        got = (self.engine.silver_view().toPandas()
               .sort_values(["conv_id", "turn_idx", "lsn"], kind="mergesort")
               .reset_index(drop=True)[cols])
        failures = []
        if not _frames_equal(got, want):
            failures.append(f"silver parity: {len(got)} rows vs oracle {len(want)}")
        stat_cols = ["conv_id", "n_turns", "n_tool_turns", "first_ts", "last_ts", "duration_sec"]
        want_g = expected_conv_stats(want)[stat_cols]
        got_g = (self.engine.catalog.load_table("gold.conv_stats").read().toPandas()
                 .sort_values("conv_id").reset_index(drop=True)[stat_cols])
        if not _frames_equal(got_g, want_g):
            failures.append(f"gold.conv_stats parity: {len(got_g)} rows vs oracle {len(want_g)}")
        return failures


def _frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    if len(got) != len(want) or list(got.columns) != list(want.columns):
        return False
    got, want = got.copy(), want.copy()
    for df in (got, want):
        for c in df.columns:
            if pd.api.types.is_datetime64_any_dtype(df[c]):
                df[c] = df[c].astype("datetime64[us]")
            elif pd.api.types.is_integer_dtype(df[c]):
                df[c] = df[c].astype("int64")
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False)
    except AssertionError:
        return False
    return True


class Registry:
    """One pass = every query of the subset, in an order set by the seed, each
    built, executed into the noop sink and released; session memos are
    cleared per pass, as ``bench.py`` does."""

    name = "registry"

    def __init__(self, seed: int, size: str, data_dir: str):
        self.p = SIZES[self.name][size]
        self.data_dir = data_dir
        # The seed sets the order by rotating a fixed cycle: every pass after
        # the first sees the same neighbours, so the order a seed picks does not
        # change which query warms up the next one.
        fixed = REGISTRY_TOY if size == "toy" else REGISTRY_SUBSET
        k = random.Random(seed).randrange(len(fixed))
        self.queries = fixed[k:] + fixed[:k]
        self.steps_per_round = len(self.queries)
        self.warmup_steps = 0  # the set-up passes run every measured plan
        self.spark = None
        self.layer: dict[str, list[float]] = {}
        self.pass_parts: list[dict[str, float]] = []
        self.leaks = 0
        self.failures: list[str] = []

    def load(self) -> None:
        for t in ORACLE_TABLES:
            if not os.path.isfile(os.path.join(self.data_dir, f"{t}.parquet")):
                raise FileNotFoundError(f"registry input table missing: {t}")

    def properties(self) -> dict:
        return {"queries": len(self.queries), "order": self.queries,
                "data": os.path.basename(self.data_dir)}

    def attach(self, spark) -> None:
        self.spark = spark

    def finish_setup(self, tracer) -> float:
        return 0.0

    def setup(self, rep: int, tracer) -> None:
        """One pass over the subset. The first, cold pass also collects each
        result and hashes it against the oracle (see ``check``)."""
        from citibike_pipeline_spark.operators.resources import clear_session_memos

        oracle = Oracle(self.data_dir) if rep == 0 else None
        try:
            clear_session_memos()
            for name in self.queries:
                with tracer.span("step"):
                    _, _, _, got = self._run(name, tracer, collect=oracle is not None)
                    self._release(tracer)
                if oracle is not None:
                    self.failures.extend(oracle.compare(name, got))
        finally:
            if oracle is not None:
                oracle.close()

    def _run(self, name: str, tracer, collect: bool = False):
        """Build and execute one query: (build_s, exec_s, eager build jobs,
        the result as pandas when ``collect``, else None)."""
        from citibike_pipeline_spark.operators import REGISTRY

        t0 = time.perf_counter()
        with tracer.span("registry.build") as s_build:
            df = REGISTRY[name].fn(self.spark, self.data_dir)
        t1 = time.perf_counter()
        with tracer.span("registry.exec"):
            if collect:
                got = df.toPandas()
            else:
                got = None
                df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        return t1 - t0, t2 - t1, (s_build.jobs if s_build else 0), got

    def _release(self, tracer) -> float:
        from citibike_pipeline_spark.operators.resources import (
            live_resource_counts, release_query_resources)

        t0 = time.perf_counter()
        with tracer.span("registry.release"):
            release_query_resources(self.spark)
        dt = time.perf_counter() - t0
        n_persist, n_scratch = live_resource_counts(self.spark)
        if n_persist or n_scratch:
            self.leaks += 1
            raise RuntimeError(f"leaked {n_persist} persisted, {n_scratch} scratch")
        return dt

    def step(self, i: int, tracer, detail: bool) -> tuple[float, int]:
        """Query ``i mod n`` of the pass. Returns (query seconds, 1); the
        release that follows the query is traced but not part of its time."""
        from citibike_pipeline_spark.operators import REGISTRY
        from citibike_pipeline_spark.operators.resources import clear_session_memos

        k = i % len(self.queries)
        if k == 0:
            clear_session_memos()
            if detail:
                self.pass_parts.append({})
        name = self.queries[k]
        with tracer.span("step", step=i):
            build, run, jobs, _ = self._run(name, tracer)
            release = self._release(tracer)
        if detail:
            module = REGISTRY[name].fn.__module__.rsplit(".", 1)[-1]
            parts = self.pass_parts[-1]
            for key, v in (("_n", 1), ("registry.build_s", build), ("registry.exec_s", run),
                           ("registry.eager_jobs", jobs), ("registry.release_s", release),
                           (f"registry.{module}.build_s", build),
                           (f"registry.{module}.exec_s", run)):
                parts[key] = parts.get(key, 0.0) + v
            if name in REGISTRY_NAMED:
                self.layer.setdefault(f"registry.q.{name}_s", []).append(build + run)
        return build + run, 1

    def extras(self, tracer) -> None:
        """Named queries outside the subset, once each (traced run only)."""
        if not self.p["extras"]:
            return
        for name in REGISTRY_NAMED:
            if name in self.queries:
                continue
            with tracer.span("extra"):
                build, run, _, _ = self._run(name, tracer)
                self._release(tracer)
            self.layer.setdefault(f"registry.q.{name}_s", []).append(build + run)

    def layer_values(self) -> dict[str, float]:
        """Per-layer figures: per-pass sums (median over complete passes),
        the named queries' median times, and the leak count."""
        full = [p for p in self.pass_parts if p.get("_n") == len(self.queries)]
        keys = {k for p in full for k in p if k != "_n"}
        out = {k: statistics.median(p.get(k, 0.0) for p in full) for k in keys}
        out.update({k: statistics.median(v) for k, v in self.layer.items()})
        out["registry.leaks"] = self.leaks
        return out

    def check(self) -> list[str]:
        """Oracle mismatches found by the first set-up pass."""
        return self.failures


class Oracle:
    """DuckDB over the same parquet files; results compared by row count,
    column names and tools/check_gate.py's order-insensitive normalisation.
    Corpus-adaptive oracles are rendered at the measured corpus size, as
    ``check_gate.py --adaptive`` does."""

    def __init__(self, data_dir: str):
        import duckdb

        from citibike_pipeline_spark.operators.registry import ADAPTIVE_SQL

        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        sys.path.insert(0, os.path.join(root, "tools"))
        from check_gate import norm

        self.norm = norm
        self.con = duckdb.connect()
        for t in ORACLE_TABLES:
            path = os.path.join(data_dir, f"{t}.parquet").replace("'", "''")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        counts = {
            "n_docs": self._scalar("SELECT COUNT(*) FROM documents"),
            "n_vecs": self._scalar("SELECT COUNT(*) FROM embeddings"),
            "n_labels": self._scalar("SELECT COUNT(DISTINCT label) FROM embeddings"),
        }
        self.adaptive = {name: gen(counts) for name, gen in ADAPTIVE_SQL.items()}

    def _scalar(self, sql: str):
        return self.con.execute(sql).fetchone()[0]

    def compare(self, name: str, got: pd.DataFrame) -> list[str]:
        from citibike_pipeline_spark.operators import REGISTRY

        sql = self.adaptive[name] if name in self.adaptive else REGISTRY[name].sql
        if sql is None:
            return [] if not got.empty else [f"{name}: empty result (no oracle)"]
        want = self.con.execute(sql).fetchdf()
        if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
            return [f"{name}: shape {got.shape} vs oracle {want.shape}"]
        if not self.norm(got).equals(self.norm(want)):
            return [f"{name}: value hash differs from oracle"]
        return []

    def close(self) -> None:
        self.con.close()
