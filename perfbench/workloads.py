"""The four workloads. Each one prepares its inputs in ``setup``
(generated from the seed, or fixed data whose query order the seed
permutes), runs one closed-loop pass of operations in ``run_pass`` and
checks the engine's outputs once, untimed, in ``check``.

Why these four (each stresses a different layer):

- ``headline_mix``: the 18 frozen ``bench.py`` headline queries
  through the ``__spark_entry__`` registry over the fixed smoke-scale
  test data in ``perfbench/data``, each checked against its DuckDB twin
  (pair invariants for the two without one). Short queries: Python
  build, py4j round trips, planning and per-job scheduling dominate the
  wall time.
- ``sensor_fusion``: the paper's pipeline at a high sensor rate
  (about 100 rows per 33 ms grid cell): clean, as-of synchronize, a
  parquet write, then correlation and summary over the written table.
  Execution-bound: window sort, shuffle and write.
- ``corpus_dedup``: exact, n-gram, MinHash-LSH and embedding-LSH
  duplicate search plus exact top-k over a corpus with planted
  near-copies. Pair joins and the Arrow Python-UDF path do the work;
  the planted share sets the candidate volume.
- ``sensor_stream``: the same sync layer driven as a file stream, one
  file per epoch, so fixed per-call cost of ``synchronize`` and the
  checkpoint commits show.

``BENCHMARK.json`` declares ``headline_mix`` and ``sensor_stream``: with
a 10 s session start and a 10-45 s cold warm-up pass per process on a
4-core host, all four do not fit the time budget of the regression gate
(4 + 22 runs per workload in 57 minutes). The registry queries of
``headline_mix`` reach the clean, sync, analytics, dedup (MinHash-LSH
included) and similarity (embedding LSH included) layers, spanned at
the registry's module references; ``sensor_stream`` covers the
streaming layer. ``sensor_fusion`` and ``corpus_dedup`` run with the
same command.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import harness as H
import inputs
from harness import operation


class Context:
    """What a workload needs from the run: the session, the tracer, a
    private work directory and the seed. ``failed_keys`` and
    ``check_metrics`` are filled by ``check``."""

    def __init__(self, spark, tracer: H.Tracer, work: str, seed: int, cores: int):
        self.spark = spark
        self.cores = cores
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.failed_keys: set[str] = set()
        self.check_reasons: list[str] = []
        self.check_metrics: dict[str, float] = {}
        self.setup_metrics: dict[str, float] = {}
        self.untimed_s = 0.0  # checking work inside set-up, not counted in setup_s

    def fail(self, key: str, reason: str) -> None:
        self.failed_keys.add(key)
        if len(self.check_reasons) < 20:
            self.check_reasons.append(f"{key}: {reason}"[:400])


def _phase_sum(records, kind=None, key=None) -> float:
    return sum(
        ph.dur for r in records for ph in r.phases
        if (kind is None or ph.kind == kind) and (key is None or ph.key == key)
    )


def _groups(records, kind=None, key=None) -> list[str]:
    return [
        ph.group for r in records for ph in r.phases
        if (kind is None or ph.kind == kind) and (key is None or ph.key == key)
    ]


class Workload:
    name = ""

    def setup(self, ctx: Context) -> str:
        """Generate and materialise the inputs; return their fingerprint."""
        raise NotImplementedError

    def run_pass(self, ctx: Context, p: int, check: bool = False) -> tuple[list[H.OpRecord], H.Stopwatch]:
        """One pass: its operation records and its wall and CPU time.
        ``check`` marks the warm-up pass, for workloads that check inside
        it."""
        raise NotImplementedError

    def op_times(self, records: list[H.OpRecord]) -> list[float]:
        """Latency of each operation of a pass, in seconds."""
        return [r.wall for r in records]

    def check(self, ctx: Context) -> None:
        raise NotImplementedError

    def close(self) -> None:
        """Release what ``setup`` opened outside the Spark session."""

    def layer_metrics(self, ctx: Context, records: list[H.OpRecord]) -> dict[str, float]:
        """Per-layer metrics of one traced pass (generic phase and
        status-store counters; workloads add their module layers)."""
        spark = ctx.spark
        # a layer the pass never calls into spends no time and launches
        # no job there: its sums are a measured zero
        m = dict.fromkeys(LAYER_SUMS, 0.0)
        m.update({
            "build.s": _phase_sum(records, "build"),
            "build.py4j_calls": float(sum(ph.py4j for r in records for ph in r.phases
                                          if ph.kind == "build")),
            "build.jobs": H.group_counters(spark, _groups(records, "build"))["jobs"],
            "plan.s": _phase_sum(records, "plan"),
            "exec.s": _phase_sum(records, "exec"),
            "exec.python_udf_nodes": float(sum(r.udf_nodes for r in records)),
        })
        _exec_counters(m, H.group_counters(spark, _groups(records, "exec")), ctx.cores)
        return m


# Per-layer sums over the calls a pass makes into one module layer.
LAYER_SUMS = (
    "sources.load_table_s", "sources.load_table_calls",
    "clean.s", "clean.build_jobs",
    "sync.build_s", "sync.build_jobs", "sync.exec_s", "sync.shuffle_write_mb",
    "analytics.corr_plan_s", "analytics.corr_exec_s", "analytics.summary_s",
    "dedup.exact_s", "dedup.ngram_s", "dedup.minhash_s", "dedup.pairs_out",
    "similarity.lsh_neardup_s", "similarity.cosine_topk_s",
    "stream.trigger_ms", "stream.add_batch_ms", "stream.wal_commit_ms",
    "stream.commit_offsets_ms", "stream.latest_offset_ms", "stream.query_planning_ms",
    "stream.input_rows", "stream.epochs",
)


def _exec_counters(m: dict, ex: dict, cores: int) -> None:
    """``exec.*`` status-store counters, and the share of the cores'
    time during ``exec.s`` that tasks ran."""
    for k, v in ex.items():
        m[f"exec.{k}"] = v
    if m["exec.s"] > 0:
        m["exec.core_busy_frac"] = ex["task_run_s"] / (m["exec.s"] * cores)


# --------------------------------------------------------------------
# headline_mix
# --------------------------------------------------------------------
class HeadlineMix(Workload):
    name = "headline_mix"
    # the smoke-scale test data of the query registry (TESTDATA.md:
    # 6k lineitem, 1k events, 500 documents and embeddings), copied
    # byte for byte; the queries are overhead-bound at any scale and this
    # one keeps a run inside the regression gate's time budget
    DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.001")
    # the two queries without a DuckDB twin, and the thresholds their
    # registry entries pass
    MINHASH, EMBED_LSH = "dedup_minhash_lsh", "embed_neardup_lsh"
    JACCARD, COSINE, SIG_HASHES = 0.5, 0.3, 32
    # the registry's module references, wrapped so its calls into each
    # layer are spanned at the boundary
    LAYERS = {"C": "clean", "S": "sync", "A": "analytics", "D": "dedup", "SIM": "similarity"}

    def setup(self, ctx):
        import bench
        import duckdb
        import __spark_entry__ as entry

        from multi_sensor_data_pipeline_for_robotics__spark.sources.tables import TABLES

        self.queries = list(bench.HEADLINE)
        self.entry = entry
        self.registry = entry.queries()
        self.oracles = entry.oracle_sql()
        self.dir = self.DATA
        # the data is fixed; the seed only permutes the query order
        self.order = random.Random(ctx.seed)
        self.proxies = {}
        for attr, layer in self.LAYERS.items():
            self.proxies[layer] = H.LayerProxy(getattr(entry, attr), layer, ctx.tracer)
            setattr(entry, attr, self.proxies[layer])
        self._wrap_load_table(ctx.tracer)
        self.duck = duckdb.connect()
        for t in TABLES:
            self.duck.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
        return inputs.fingerprint(self.dir)

    def _wrap_load_table(self, tracer):
        """Span every registry call into ``sources.tables.load_table``."""
        original = self.entry.load_table

        def load_table(*args, **kwargs):
            with tracer.span("sources.load_table"):
                return original(*args, **kwargs)

        self.entry.load_table = load_table

    def run_pass(self, ctx, p, check=False):
        """With ``check`` (the warm-up pass) each query's result is also
        checked, untimed: against its DuckDB twin, or by pair invariants
        for the two queries without one."""
        names = list(self.queries)
        self.order.shuffle(names)
        recs: list[H.OpRecord] = []
        with H.Stopwatch() as sw:
            for name in names:
                with operation(ctx.tracer, f"p{p}:{name}", name, recs) as op:
                    df = op.phase("build", "registry",
                                  lambda: self.registry[name](ctx.spark, self.dir))
                    result = op.force(df, "registry")
                    if check:
                        t_check = time.perf_counter()
                        problems = self._verify(ctx, name, df, result)
                        ctx.untimed_s += time.perf_counter() - t_check
                        if problems:
                            ctx.fail(name, "; ".join(problems))
        return recs, sw

    def _verify(self, ctx, name, df, result):
        """Compare a query with its DuckDB twin: first by the checksum of
        the twin's rows typed by the query's schema, which needs no second
        execution; on a mismatch (or a value the hash cannot type) by
        ``tools/check_oracles.compare`` over the collected rows, whose
        verdict stands."""
        from tools.check_oracles import compare

        try:
            if name == self.MINHASH:
                return self._check_minhash(ctx, [tuple(r) for r in df.collect()], result)
            if name == self.EMBED_LSH:
                return self._check_embed_lsh(ctx, [tuple(r) for r in df.collect()], result)
            res = self.duck.execute(self.oracles[name])
            cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
            schema = df.schema
            pos = {c.lower(): i for i, c in enumerate(cols)}
            try:
                ordered = [tuple(r[pos[f.name.lower()]] for f in schema.fields) for r in duck_rows]
                if len(cols) == len(schema.fields) and H.py_checksum(ordered, schema) == result:
                    return []
            except (KeyError, TypeError, ValueError, ArithmeticError):
                pass
            return compare(name, df, duck_rows, cols)
        except Exception as e:  # noqa: BLE001 - a failing comparison is a failed check
            return [f"{type(e).__name__}: {str(e)[:200]}"]

    def _pair_problems(self, rows, result, lo, hi):
        """Invariants every pair output keeps: the collected rows are the
        forced ones, ids ascend within a pair, no pair repeats, and every
        score lies in ``[lo, hi]``."""
        problems = []
        if len(rows) != result[0]:
            problems.append(f"collected {len(rows)} rows, forced {result[0]}")
        if any(a >= b for a, b, _ in rows):
            problems.append("a pair whose first id is not the smaller")
        if len({(a, b) for a, b, _ in rows}) != len(rows):
            problems.append("a repeated pair")
        bad = [r for r in rows if not lo - 1e-9 <= r[2] <= hi + 1e-9]
        if bad:
            problems.append(f"{len(bad)} scores outside [{lo}, {hi}], e.g. {bad[0]}")
        return problems

    def _check_minhash(self, ctx, rows, result):
        """MinHash-LSH pairs (doc_a, doc_b, est_jaccard): the pair
        invariants; each estimate a whole number of matching signature
        slots; every planted near-copy found (a text repeated with one
        more token, whose 3-shingle Jaccard collides in one of 8 bands
        of 4 slots with probability above 0.999). Documents with equal
        signatures come back as a star around the smallest id, not as a
        clique, so a pair counts as found when the returned pairs connect
        it. Recall against every pair at or above the threshold, and the
        share of returned pairs whose exact Jaccard reaches it, are
        recorded."""
        import pyarrow.parquet as pq

        texts = {r["doc_id"]: r["text"]
                 for r in pq.read_table(os.path.join(self.dir, "documents.parquet")).to_pylist()}
        problems = self._pair_problems(rows, result, self.JACCARD, 1.0)
        if any(abs(e * self.SIG_HASHES - round(e * self.SIG_HASHES)) > 1e-9 for *_, e in rows):
            problems.append("an estimate that is not a whole number of slots")
        sh = {d: _shingles(t, 3) for d, t in texts.items()}
        planted = {tuple(sorted((a, b))) for a in texts for b in texts
                   if texts[b] == texts[a] + " dup"}
        got = {(a, b) for a, b, _ in rows}
        component = _components(got)

        def found(pair):
            a, b = pair
            return a in component and component[a] == component.get(b)

        missing = [pr for pr in planted if not found(pr)]
        if missing:
            problems.append(f"{len(missing)} of {len(planted)} planted near-copies missing, "
                            f"e.g. {missing[0]}")
        ids = sorted(sh)
        truth = [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]
                 if _jaccard(sh[a], sh[b]) >= self.JACCARD]
        ctx.check_metrics["dedup.minhash_recall"] = (
            sum(map(found, truth)) / len(truth) if truth else 1.0)
        ctx.check_metrics["dedup.minhash_precision"] = (
            sum(_jaccard(sh[a], sh[b]) >= self.JACCARD for a, b in got) / len(got) if got else 1.0)
        ctx.check_metrics["dedup.minhash_pairs"] = float(len(rows))
        return problems

    def _check_embed_lsh(self, ctx, rows, result):
        """Embedding-LSH pairs (vec_a, vec_b, cosine): the pair
        invariants, and every score equal to the exact cosine (six
        decimals). LSH may miss pairs by design: recall against every
        pair at or above the threshold is recorded, not checked."""
        import numpy as np
        import pyarrow.parquet as pq

        emb = pq.read_table(os.path.join(self.dir, "embeddings.parquet")).to_pylist()
        ids = np.array([r["vec_id"] for r in emb])
        x = np.array([r["embedding"] for r in emb], dtype=np.float64)
        x /= np.linalg.norm(x, axis=1, keepdims=True)
        cos = x @ x.T
        at = {int(v): i for i, v in enumerate(ids)}
        problems = self._pair_problems(rows, result, self.COSINE, 1.0)
        wrong = [r for r in rows if abs(cos[at[r[0]], at[r[1]]] - r[2]) > 2e-6]
        if wrong:
            problems.append(f"{len(wrong)} scores differ from the exact cosine, e.g. {wrong[0]}")
        iu = np.triu_indices(len(ids), 1)
        keep = cos[iu] >= self.COSINE
        truth = {(int(min(ids[i], ids[j])), int(max(ids[i], ids[j])))
                 for i, j in zip(iu[0][keep], iu[1][keep])}
        got = {(a, b) for a, b, _ in rows}
        ctx.check_metrics["similarity.lsh_recall"] = len(got & truth) / len(truth) if truth else 1.0
        ctx.check_metrics["similarity.lsh_pairs"] = float(len(rows))
        return problems

    def check(self, ctx):
        """Done inside the warm-up pass (see ``run_pass``)."""

    def close(self):
        if getattr(self, "duck", None) is not None:
            self.duck.close()

    def layer_metrics(self, ctx, records):
        m = super().layer_metrics(ctx, records)
        by_key = {r.key: r for r in records}
        ids = {r.id for r in records}
        spans = [s for s in ctx.tracer.spans if s.op in ids]

        def named(prefix):
            return [s for s in spans if s.name.startswith(prefix)]

        def jobs(group_spans):
            return H.group_counters(ctx.spark, [s.group for s in group_spans if s.group])["jobs"]

        def wall(key):
            return by_key[key].wall if key in by_key else 0.0

        def rows_out(key):
            r = by_key.get(key)
            return float(r.results[0][0]) if r and r.results else 0.0

        # jobs launched inside a module span carry that span's group
        m["build.jobs"] += jobs([s for s in spans if s.group and s.name.split(".")[0] in self.proxies])
        loads = named("sources.load_table")
        corr = by_key.get("o20_corr_matrix")
        # the queries whose registry builder called into the sync layer
        sync_ops = [r for r in records if any(s.op == r.id for s in named("sync."))]
        m.update({
            "sources.load_table_s": sum(s.dur for s in loads),
            "sources.load_table_calls": float(len(loads)),
            "clean.s": sum(s.dur for s in named("clean.")),
            "clean.build_jobs": jobs(named("clean.")),
            "sync.build_s": sum(s.dur for s in named("sync.")),
            "sync.build_jobs": jobs(named("sync.")),
            "sync.exec_s": _phase_sum(sync_ops, "exec"),
            "sync.shuffle_write_mb": H.group_counters(
                ctx.spark, _groups(sync_ops, "exec"))["shuffle_write_mb"],
            "analytics.corr_plan_s": _phase_sum([corr], "plan") if corr else 0.0,
            "analytics.corr_exec_s": _phase_sum([corr], "exec") if corr else 0.0,
            "analytics.summary_s": wall("o21_summary_stats"),
            "dedup.exact_s": wall("dedup_exact"),
            "dedup.ngram_s": wall("dedup_ngram_jaccard"),
            "dedup.minhash_s": wall(self.MINHASH),
            "dedup.pairs_out": rows_out("dedup_ngram_jaccard") + rows_out(self.MINHASH),
            "similarity.lsh_neardup_s": wall(self.EMBED_LSH),
            "similarity.cosine_topk_s": wall("embed_cosine_topk"),
        })
        return m


def _shingles(text: str, n: int) -> set:
    """Distinct ``n``-token shingles of a space-split text, as the
    dedup operators form them."""
    t = text.split(" ")
    return {tuple(t[i:i + n]) for i in range(len(t) - n + 1)}


def _jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 1.0


def _components(pairs) -> dict:
    """Node -> the smallest node of its connected component."""
    root: dict = {}

    def find(x):
        while root.setdefault(x, x) != x:
            root[x] = root[root[x]]
            x = root[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            root[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(root)}


def _reduce_cells(report: list[str]) -> dict[str, float]:
    """``sync.reduce_cells_*`` parsed from ``SyncResult.report``."""
    for entry in report:
        if entry.startswith("reduce_cells="):
            flags = dict(kv.split(":") for kv in entry.split("=", 1)[1].split(","))
            return {"sync.reduce_cells_camera": float(flags.get("camera") == "True"),
                    "sync.reduce_cells_motion": float(flags.get("motion") == "True")}
    return {}


# --------------------------------------------------------------------
# sensor_fusion
# --------------------------------------------------------------------
class SensorFusion(Workload):
    name = "sensor_fusion"
    ROWS = 20_000  # per sensor; 3000 Hz camera, 2800 Hz motion
    LOG_ROWS = 100
    CAMERA_HZ, MOTION_HZ = 3000.0, 2800.0
    VALUE_COLS = [
        "camera_object_x", "camera_object_y", "camera_object_size", "camera_confidence",
        "motion_accel_x", "motion_accel_y", "motion_accel_z",
        "motion_gyro_x", "motion_gyro_y", "motion_gyro_z",
    ]

    def setup(self, ctx):
        from multi_sensor_data_pipeline_for_robotics__spark.sources import datagen as DG

        self.event_types = list(DG.EVENT_TYPES)
        self.inp = os.path.join(ctx.work, "sensors")
        t0 = time.perf_counter()
        frames = {
            # frame_id is a counter, not a measurement: the reference's
            # -900..10000 range filter applies to every numeric column and
            # would drop every frame past 10000
            "camera": DG.generate_camera(ctx.spark, n=self.ROWS, freq_hz=self.CAMERA_HZ,
                                         seed=ctx.seed * 3 + 1).drop("frame_id"),
            "motion": DG.generate_motion(ctx.spark, n=self.ROWS, freq_hz=self.MOTION_HZ,
                                         seed=ctx.seed * 3 + 2),
            "log": DG.generate_log(ctx.spark, n=self.LOG_ROWS,
                                   span_s=self.ROWS / self.CAMERA_HZ, seed=ctx.seed * 3 + 3),
        }
        for name, df in frames.items():
            df.write.parquet(os.path.join(self.inp, name))
        ctx.setup_metrics["sources.datagen_s"] = time.perf_counter() - t0
        return inputs.fingerprint(self.inp)

    def run_pass(self, ctx, p, check=False):
        from multi_sensor_data_pipeline_for_robotics__spark.operators.clean import clean
        from multi_sensor_data_pipeline_for_robotics__spark.operators.sync import synchronize
        from multi_sensor_data_pipeline_for_robotics__spark.plans.analytics import (
            corr_matrix,
            summary_stats,
        )

        spark = ctx.spark
        out = os.path.join(ctx.work, f"fused-{p}")
        recs: list[H.OpRecord] = []
        with H.Stopwatch() as sw, operation(ctx.tracer, f"p{p}:pipeline", "pipeline", recs) as op:
            cam, mot, log = op.phase("build", "sources.read", lambda: [
                spark.read.parquet(os.path.join(self.inp, n)) for n in ("camera", "motion", "log")])
            cam_c = op.phase("build", "clean", lambda: clean(cam, "camera"))
            mot_c = op.phase("build", "clean", lambda: clean(mot, "motion"))
            res = op.phase("build", "sync.build", lambda: synchronize(
                cam_c.df, mot_c.df, log.select("timestamp", "event_type"),
                method="nearest", event_types=self.event_types))
            if res.df is None:
                raise RuntimeError(f"synchronize returned no table: {res.report}")
            self.report = res.report
            op.phase("exec", "sync.exec", lambda: res.df.write.parquet(out))
            wide = op.phase("build", "analytics.corr", lambda: spark.read.parquet(out))
            corr = op.phase("build", "analytics.corr", lambda: corr_matrix(wide, self.VALUE_COLS))
            op.force(corr, "analytics.corr")
            summ = op.phase("build", "analytics.summary",
                            lambda: summary_stats(wide, self.VALUE_COLS))
            op.force(summ, "analytics.summary")
        previous = getattr(self, "out", None)
        if previous and previous != out:
            shutil.rmtree(previous, ignore_errors=True)
        self.out = out
        return recs, sw

    def check(self, ctx):
        """The written wide table against the pandas reference
        (``tests/_pandas_reference``) run on the same generated inputs."""
        import pandas as pd

        from tests._pandas_reference import clean_pd, synchronize_pd

        try:
            def read(path):
                return pd.read_parquet(path).sort_values("timestamp").reset_index(drop=True)

            cam, mot, log = (read(os.path.join(self.inp, n)) for n in ("camera", "motion", "log"))
            want = synchronize_pd(clean_pd(cam, "camera"), clean_pd(mot, "motion"),
                                  log[["timestamp", "event_type"]], method="nearest")
            got = read(self.out)
            ev_want = {c for c in want.columns if c.startswith("event_")}
            for c in [c for c in got.columns if c.startswith("event_") and c not in ev_want]:
                if got[c].sum() != 0:
                    raise AssertionError(f"{c} has events the reference does not")
                got = got.drop(columns=[c])
            if len(got) != len(want):
                raise AssertionError(f"{len(got)} rows, reference {len(want)}")
            pd.testing.assert_frame_equal(
                got[list(want.columns)].reset_index(drop=True),
                want.sort_values("timestamp").reset_index(drop=True),
                check_dtype=False, rtol=1e-9,
            )
            ctx.check_metrics["sync.rows_out"] = float(len(got))
        except Exception as e:  # noqa: BLE001 - a mismatch fails the pipeline key
            ctx.fail("pipeline", f"{type(e).__name__}: {str(e)[:300]}")

    def layer_metrics(self, ctx, records):
        m = super().layer_metrics(ctx, records)
        spark = ctx.spark
        clean_groups = _groups(records, "build", "clean")
        sync_b = _groups(records, "build", "sync.build")
        sync_e = H.group_counters(spark, _groups(records, "exec", "sync.exec"))
        m.update({
            "clean.s": _phase_sum(records, key="clean"),
            "clean.build_jobs": H.group_counters(spark, clean_groups)["jobs"],
            "sync.build_s": _phase_sum(records, key="sync.build"),
            "sync.build_jobs": H.group_counters(spark, sync_b)["jobs"],
            "sync.exec_s": _phase_sum(records, key="sync.exec"),
            "sync.shuffle_write_mb": sync_e["shuffle_write_mb"],
            "analytics.corr_plan_s": _phase_sum(records, "plan", "analytics.corr"),
            "analytics.corr_exec_s": _phase_sum(records, "exec", "analytics.corr"),
            "analytics.summary_s": _phase_sum(records, key="analytics.summary"),
        })
        m.update(_reduce_cells(getattr(self, "report", [])))
        return m


# --------------------------------------------------------------------
# corpus_dedup
# --------------------------------------------------------------------
class CorpusDedup(Workload):
    name = "corpus_dedup"
    DOCS = 3_000
    VECTORS = 3_000
    QUERIES = 8
    JACCARD = 0.5
    COSINE = 0.9

    def setup(self, ctx):
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows, self.near, self.exact = inputs.corpus(ctx.seed, self.DOCS)
        self.texts = dict(rows)
        self.vecs, self.planted = inputs.vectors(ctx.seed + 1, self.VECTORS)
        self.inp = os.path.join(ctx.work, "corpus")
        os.makedirs(self.inp)
        pq.write_table(pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                                 "text": pa.array([r[1] for r in rows])}),
                       os.path.join(self.inp, "documents.parquet"))
        pq.write_table(pa.table({
            "vec_id": pa.array(range(len(self.vecs)), pa.int64()),
            "embedding": pa.array(list(self.vecs), pa.list_(pa.float32())),
        }), os.path.join(self.inp, "embeddings.parquet"))
        return inputs.fingerprint(self.inp)

    def _operators(self, spark):
        from pyspark.sql import functions as F

        from multi_sensor_data_pipeline_for_robotics__spark.operators import dedup as D
        from multi_sensor_data_pipeline_for_robotics__spark.operators import similarity as SIM

        docs = os.path.join(self.inp, "documents.parquet")
        emb = os.path.join(self.inp, "embeddings.parquet")
        J, C = self.JACCARD, self.COSINE
        return [
            ("dedup.exact", lambda: D.dedup_exact(spark.read.parquet(docs))),
            ("dedup.ngram", lambda: D.ngram_jaccard_pairs(
                spark.read.parquet(docs), n=3, threshold=J)),
            ("dedup.minhash", lambda: D.minhash_lsh_pairs(
                spark.read.parquet(docs), num_hashes=32, bands=8, threshold=J, shingle_n=3)),
            ("similarity.lsh_neardup", lambda: SIM.lsh_neardup_pairs(
                spark.read.parquet(emb), threshold=C, bands=8)),
            ("similarity.cosine_topk", lambda: SIM.cosine_topk(
                spark.read.parquet(emb),
                spark.read.parquet(emb).filter(F.col("vec_id") < self.QUERIES)
                .select(F.col("vec_id").alias("query_id"), "embedding"),
                k=5)),
        ]

    def run_pass(self, ctx, p, check=False):
        recs: list[H.OpRecord] = []
        with H.Stopwatch() as sw:
            for key, build in self._operators(ctx.spark):
                with operation(ctx.tracer, f"p{p}:{key}", key, recs) as op:
                    op.force(op.phase("build", key, build), key)
        return recs, sw

    def check(self, ctx):
        """Outputs against the planted ground truth."""
        for key, build in self._operators(ctx.spark):
            try:
                rows = [tuple(r) for r in build().collect()]
                getattr(self, "_check_" + key.split(".")[1])(ctx, rows)
            except Exception as e:  # noqa: BLE001 - a raising operator fails its key
                ctx.fail(key, f"{type(e).__name__}: {str(e)[:300]}")

    def _shingles(self, doc):
        t = self.texts[doc].split()
        return {tuple(t[i:i + 3]) for i in range(len(t) - 2)}

    def _jaccard(self, a, b):
        sa, sb = self._shingles(a), self._shingles(b)
        return len(sa & sb) / len(sa | sb)

    def _check_exact(self, ctx, rows):
        # (content_hash, doc_id, n_copies)
        groups = {doc: n for _, doc, n in rows if n > 1}
        if groups != self.exact:
            ctx.fail("dedup.exact", f"{len(groups)} copy groups, planted {len(self.exact)}")
        if len(rows) != len(set(self.texts.values())):
            ctx.fail("dedup.exact", f"{len(rows)} groups, {len(set(self.texts.values()))} texts")

    def _pairs_vs_truth(self, rows):
        got = {tuple(sorted(r[:2])) for r in rows}
        truth = self.near | {tuple(sorted((a, b))) for a, b in self._exact_pairs()}
        return got, truth

    def _exact_pairs(self):
        by_text: dict[str, list[int]] = {}
        for doc, text in self.texts.items():
            by_text.setdefault(text, []).append(doc)
        return [(g[0], g[1]) for g in by_text.values() if len(g) > 1]

    def _check_ngram(self, ctx, rows):
        got, truth = self._pairs_vs_truth(rows)
        missing = truth - got
        wrong = [r for r in rows if abs(self._jaccard(r[0], r[1]) - r[2]) > 1e-6 or r[2] < self.JACCARD]
        if missing or wrong:
            ctx.fail("dedup.ngram", f"{len(missing)} planted pairs missing, {len(wrong)} wrong scores")
        ctx.check_metrics["dedup.ngram_pairs"] = float(len(rows))

    def _check_minhash(self, ctx, rows):
        got, truth = self._pairs_vs_truth(rows)
        recall = len(got & truth) / len(truth)
        precision = (sum(self._jaccard(a, b) >= self.JACCARD for a, b in got) / len(got)
                     if got else 0.0)
        ctx.check_metrics["dedup.minhash_recall"] = recall
        ctx.check_metrics["dedup.minhash_precision"] = precision
        ctx.check_metrics["dedup.minhash_pairs"] = float(len(rows))
        # planted pairs have 3-gram Jaccard >= 0.8: with 8 bands of 4
        # rows each collides with probability >= 0.98
        if recall < 0.95 or precision < 0.95:
            ctx.fail("dedup.minhash", f"recall {recall:.3f}, precision {precision:.3f}")

    def _cos(self, a, b):
        return float(self.vecs[a].astype("float64") @ self.vecs[b].astype("float64"))

    def _check_lsh_neardup(self, ctx, rows):
        got = {tuple(sorted(r[:2])) for r in rows}
        recall = len(got & self.planted) / len(self.planted)
        ctx.check_metrics["similarity.lsh_recall"] = recall
        wrong = [r for r in rows if r[2] < self.COSINE or abs(self._cos(r[0], r[1]) - r[2]) > 2e-6]
        # planted neighbours have cosine >= 0.98
        if wrong or recall < 0.8:
            ctx.fail("similarity.lsh_neardup", f"recall {recall:.3f}, {len(wrong)} wrong pairs")

    def _check_cosine_topk(self, ctx, rows):
        import numpy as np

        x = self.vecs.astype("float64")
        x /= np.linalg.norm(x, axis=1, keepdims=True)
        for q in range(self.QUERIES):
            got = sorted((r for r in rows if r[0] == q), key=lambda r: r[3])
            sims = x @ x[q]
            sims[q] = -np.inf
            top = np.argsort(-sims)[:6]
            want_ids = [int(i) for i in top[:5]]
            tie = sims[top[4]] - sims[top[5]] < 1e-5
            ids_ok = [r[1] for r in got] == want_ids or tie
            sims_ok = all(abs(r[2] - sims[r[1]]) <= 2e-6 for r in got)
            if len(got) != 5 or not ids_ok or not sims_ok:
                ctx.fail("similarity.cosine_topk", f"query {q}: {got} vs {want_ids}")
                return

    def layer_metrics(self, ctx, records):
        m = super().layer_metrics(ctx, records)
        by_key = {r.key: r for r in records}

        def wall(key):
            return by_key[key].wall if key in by_key else 0.0

        pairs = sum(by_key[k].results[0][0] for k in ("dedup.ngram", "dedup.minhash")
                    if k in by_key and by_key[k].results)
        m.update({
            "dedup.exact_s": wall("dedup.exact"),
            "dedup.ngram_s": wall("dedup.ngram"),
            "dedup.minhash_s": wall("dedup.minhash"),
            "dedup.pairs_out": float(pairs),
            "similarity.lsh_neardup_s": wall("similarity.lsh_neardup"),
            "similarity.cosine_topk_s": wall("similarity.cosine_topk"),
        })
        return m


# --------------------------------------------------------------------
# sensor_stream
# --------------------------------------------------------------------
class SensorStream(Workload):
    name = "sensor_stream"
    FILES = 3
    ROWS_PER_FILE = 5_000
    DURATIONS = {
        "stream.trigger_ms": "triggerExecution",
        "stream.add_batch_ms": "addBatch",
        "stream.wal_commit_ms": "walCommit",
        "stream.commit_offsets_ms": "commitOffsets",
        "stream.latest_offset_ms": "latestOffset",
        "stream.query_planning_ms": "queryPlanning",
    }

    def setup(self, ctx):
        self.inp = os.path.join(ctx.work, "events")
        self.files = inputs.write_event_files(self.inp, ctx.seed, self.FILES, self.ROWS_PER_FILE)
        self.schema = ctx.spark.read.parquet(self.files[0]).schema
        self.progress: dict[int, list[dict]] = {}
        self.stream_ops: dict[int, list[H.OpRecord]] = {}
        self.run_ids: dict[int, str | None] = {}
        self.walls: dict[int, float] = {}
        return inputs.fingerprint(self.inp)

    def run_pass(self, ctx, p, check=False):
        import json

        from multi_sensor_data_pipeline_for_robotics__spark.streaming.sync_stream import (
            sync_wide_to_parquet,
        )

        out = os.path.join(ctx.work, f"stream-{p}", "out")
        ckpt = os.path.join(ctx.work, f"stream-{p}", "ckpt")
        # the whole stream query is one spanned operation (building and
        # starting it, then running it to the end); its epochs are the
        # operations the metrics count
        stream_op: list[H.OpRecord] = []
        q = None
        with H.Stopwatch() as sw:
            with operation(ctx.tracer, f"p{p}:stream", "stream", stream_op) as op:
                q = op.phase("build", "streaming.sync_wide_to_parquet", lambda: sync_wide_to_parquet(
                    ctx.spark.readStream.schema(self.schema)
                    .option("maxFilesPerTrigger", 1).parquet(self.inp), out, ckpt))
                op.phase("exec", "streaming.sync_wide_to_parquet", q.awaitTermination)
        self.stream_ops[p] = stream_op
        epochs = [json.loads(pr.json) for pr in q.recentProgress] if q is not None else []
        epochs = [e for e in epochs if e.get("numInputRows", 0) > 0]
        self.progress[p], self.walls[p] = epochs, sw.wall
        self.run_ids[p] = str(q.runId) if q is not None else None
        recs = [H.OpRecord(f"p{p}:epoch{i}", "epoch",
                           wall=e["durationMs"]["triggerExecution"] / 1000.0)
                for i, e in enumerate(epochs)]
        error = stream_op[0].error or (q.exception() if q is not None else None)
        if error is not None or len(epochs) != self.FILES:
            recs.append(H.OpRecord(f"p{p}:stream", "epoch", wall=sw.wall,
                                   error=f"{len(epochs)} epochs, error {error}"))
        # the appended output must be the same in every pass (untimed)
        result = [H.checksum(ctx.spark.read.parquet(out))]
        for r in recs:
            r.results = result
        previous, self.out = getattr(self, "out", None), out
        if previous:
            shutil.rmtree(os.path.dirname(previous), ignore_errors=True)
        return recs, sw

    def check(self, ctx):
        """The appended rows equal batch ``synchronize`` run per file,
        with the per-batch split the stream applies."""
        from pyspark.sql import functions as F

        from multi_sensor_data_pipeline_for_robotics__spark.operators.sync import synchronize

        try:
            parts = []
            for path in self.files:
                df = ctx.spark.read.parquet(path)
                cam = (df.filter(F.col("event_type") == "click")
                       .groupBy(F.col("ts").alias("timestamp")).agg(F.max("value").alias("x")))
                mot = (df.filter(F.col("event_type") == "view")
                       .groupBy(F.col("ts").alias("timestamp")).agg(F.max("value").alias("y")))
                log = df.filter(F.col("event_type").isin("error", "signup")).select(
                    F.col("ts").alias("timestamp"), "event_type")
                res = synchronize(cam, mot, log, method="pad", step_ms=60_000,
                                  tolerance_ms=120_000, event_types=["error", "signup"])
                parts.append(res.df)
            want = parts[0]
            for part in parts[1:]:
                want = want.unionByName(part)
            got = ctx.spark.read.parquet(self.out)
            g, w = H.checksum(got), H.checksum(want.select(*got.columns))
            if g != w:
                ctx.fail("epoch", f"stream output {g} != batch per file {w}")
            ctx.check_metrics["stream.rows_out"] = float(g[0])
        except Exception as e:  # noqa: BLE001
            ctx.fail("epoch", f"{type(e).__name__}: {str(e)[:300]}")

    def layer_metrics(self, ctx, records):
        p = int(records[0].id.split(":")[0][1:])
        m = super().layer_metrics(ctx, self.stream_ops[p])
        # the stream runs its jobs in its own thread, in a job group
        # named after the query's run id
        _exec_counters(m, H.group_counters(ctx.spark, [self.run_ids[p]]), ctx.cores)
        epochs = self.progress[p]
        for name, key in self.DURATIONS.items():
            m[name] = float(sum(e["durationMs"].get(key, 0) for e in epochs))
        # numInputRows counts every scan of a micro-batch: the split into
        # camera, motion and log frames reads each file several times
        m["stream.input_rows"] = float(sum(e["numInputRows"] for e in epochs))
        m["stream.epochs"] = float(len(epochs))
        if epochs:
            m["stream.rows_per_epoch"] = m["stream.input_rows"] / len(epochs)
        return m


WORKLOADS = {w.name: w for w in (HeadlineMix, SensorFusion, CorpusDedup, SensorStream)}
