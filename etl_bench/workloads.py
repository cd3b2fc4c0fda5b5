"""The workloads.  Each takes a ``Bench`` and returns the result
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

Every engine call goes through the engine's public functions; inputs come
from ``gen`` and correctness from ``oracle``.
"""

from __future__ import annotations

import os
import sys
import threading
import time
from collections import Counter

from etl_bench import gen, oracle
from etl_bench.stats import freshness, median, percentile
from etl_bench.trace import (
    Tracer,
    progress_listener,
    proc_peak_rss_mb,
    python_worker_cpu_s,
    tree_cpu_s,
)

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "input_rows_per_s": "rows/s",
    "freshness_s_p50": "s",
    "sink_bytes_per_row": "B/row",
}

TRIGGER_PHASES = ("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
PER_LAYER = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "session.jvm_gc_s": "s",
    "session.parallel_speedup": "x",
    "sources.catalog.load_table_s": "s",
    "sources.catalog.scan_rows": "rows",
    "sources.catalog.scan_bytes": "B",
    "sources.pages_source.parse_rows_per_s": "rows/s",
    "sources.pages_source.kept_ratio": "ratio",
    "sources.pages_source.python_cpu_s": "s",
    **{
        f"plans.{p}.{m}": u
        for p in ("flagship", "referee")
        for m, u in (
            ("exec_s", "s"), ("stages", "count"), ("tasks", "count"),
            ("shuffle_write_bytes", "B"), ("shuffle_read_bytes", "B"),
            ("spill_bytes", "B"), ("task_skew", "ratio"),
        )
    },
    "sinks.writer.retried_write_s": "s",
    "sinks.writer.attempts_per_write": "count",
    "sinks.writer.files_written": "count",
    "sinks.writer.bytes_written": "B",
    "sinks.merge.merge_upsert_s": "s",
    "sinks.merge.partitions_rewritten": "count",
    "sinks.merge.rows_rewritten_per_update_row": "ratio",
    "sinks.merge.bytes_written": "B",
    "streaming.cycle_s": "s",
    "streaming.batches_per_cycle": "count",
    "streaming.rows_per_batch": "rows",
    **{f"streaming.trigger_ms.{p}": "ms" for p in TRIGGER_PHASES},
    "streaming.overhead_frac": "ratio",
    "freshness_s_p90": "s",
    "generator.lag_s_max": "s",
    "trace.job_s": "s",
    "trace.overhead_frac": "ratio",
}

# Untimed warm-up jobs: the JIT and codegen are within ~10% of their
# plateau by the third (README.md has the measurements).
WARM_JOBS = 3
# The historic table the nightly job upserts into: partition = key % 60.
PARTITIONS = 60
# A run measures for --seconds and at least this many operations, so each
# median has more than one sample.
MIN_MEASURED = 2
# Timed local[1] jobs behind session.parallel_speedup (traced run only);
# one keeps a traced nightly run well inside the 180 s a run may take.
SERIAL_JOBS = 1


def _warm_up(bench, job) -> None:
    bench.diag["warm_up_s"] = [round(job(), 3) for _ in range(WARM_JOBS)]


def _dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) of every parquet file under ``path``."""
    files = size = 0
    for base, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(base, n))
    return files, size


def _result(metrics: dict[str, float], units: dict[str, str], attempted: int,
            failed: int) -> dict:
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
                    for k, u in units.items()},
    }


class _Ops:
    """Operation log: timings split traced / untraced, and the failed-operation
    count (each check mismatch fails its operation)."""

    def __init__(self, bench, tracer: Tracer):
        self.bench, self.tracer = bench, tracer
        self.attempted = self.failed = 0
        self.plain: list[float] = []
        self.traced: list[float] = []

    def run(self, op, timed: bool) -> float:
        # in a traced run, every other measured operation runs with hooks
        # off, so the two halves give the tracing overhead in one process
        on = self.bench.trace and timed and len(self.traced) < len(self.plain)
        self.tracer.enabled = on
        dt, bad = op()
        self.tracer.enabled = False
        self.attempted += 1
        if bad:
            self.failed += 1
            print(f"etl_bench check failed: {bad[:3]}", file=sys.stderr)
        if timed:
            (self.traced if on else self.plain).append(dt)
            self.bench.diag.setdefault("job_s", []).append(round(dt, 3))
        return dt

    def measure(self, op, seconds: float) -> None:
        end = time.perf_counter() + seconds
        while time.perf_counter() < end or len(self.plain) < MIN_MEASURED or (
                self.bench.trace and len(self.traced) < MIN_MEASURED):
            self.run(op, timed=True)

    def trace_metrics(self) -> dict[str, float]:
        if not self.traced:
            return {}
        return {"trace.job_s": median(self.traced),
                "trace.overhead_frac": median(self.traced) / median(self.plain) - 1}


def _session_metrics(bench, tracer: Tracer, gc0: float, jobs: int) -> dict[str, float]:
    return {
        "session.start_s": bench.session_start_s,
        "session.peak_rss_mb": proc_peak_rss_mb(bench.jvm_pid),
        "session.jvm_gc_s": (tracer.jvm_gc_s() - gc0) / max(1, jobs),
    }


# --------------------------------------------------------------------------
# nightly_etl: full refresh of both documents from a star-schema landing zone


def nightly_etl(bench) -> dict:
    import historic_score_etl_pipeline_spark.plans.flagship as flagship_mod
    import historic_score_etl_pipeline_spark.plans.referee as referee_mod
    import historic_score_etl_pipeline_spark.sinks.merge as merge_mod
    from historic_score_etl_pipeline_spark.sinks.writer import ErrorChannel, retried_write

    sf, table = bench.path("landing"), bench.path("historic")
    input_rows = sum(gen.star_schema(sf, bench.seed).values()) + gen.UPDATE_ROWS
    expected = oracle.nightly_expected(sf)
    state = {"job": 0, "versions": gen.historic_table(table, bench.seed, partitions=PARTITIONS),
             "spark": bench.start_session()}
    tracer = Tracer(state["spark"])
    if bench.trace:
        for mod in (flagship_mod, referee_mod):
            tracer.wrap(mod, "load_table", "sources.catalog.load_table")
    out = bench.path("out")
    plans = (("flagship", flagship_mod.flagship_pipeline),
             ("referee", referee_mod.referee_pipeline))
    writes: list[int] = []  # attempts per retried_write
    docs_s: list[float] = []  # measured untraced jobs: start to both documents committed
    rewrites: list[tuple[int, float]] = []  # merge: (partitions, rows per update row)

    def job():
        n = state["job"]
        state["job"] += 1
        spark, batch = state["spark"], str(n % 2)  # alternating batch-id directories
        updates, versions = gen.update_batch(bench.seed, n, state["versions"],
                                             partitions=PARTITIONS)
        upd_path = bench.path("updates", f"batch-{n:05d}.parquet")
        gen.write_parquet(updates, upd_path)
        before = _partition_files(table) if tracer.enabled else None
        errors = ErrorChannel()
        ok = True
        t0 = time.perf_counter()
        for name, plan in plans:
            with tracer.span(f"sinks.writer.{name}"):
                ok &= retried_write(plan(spark, sf), f"{out}/{name}", batch, errors)
        if state.get("measuring") and not tracer.enabled:
            docs_s.append(time.perf_counter() - t0)
        with tracer.span("sinks.merge"):
            merge_mod.merge_upsert(spark, table, spark.read.parquet(upd_path), ["match_key"],
                                   version_col="version", partition_col="part")
        dt = time.perf_counter() - t0
        state["versions"] = versions
        writes.extend(1 + sum(f"/{name}/" in c for c, _, _ in errors.records)
                      for name, _ in plans)
        if before is not None:
            after = _partition_files(table)
            changed = [p for p in after if after[p] != before.get(p)]
            rows = oracle.row_count(*(os.path.join(table, p) for p in changed))
            rewrites.append((len(changed), rows / updates.num_rows))
        bad = [] if ok else ["retried_write gave up"]
        if ok:
            bad = oracle.compare(expected, oracle.nightly_observed(
                *(f"{out}/{name}/batch_id={batch}" for name, _ in plans)))
        return dt, bad + oracle.merge_check(table, versions, PARTITIONS)

    ops = _Ops(bench, tracer)
    _warm_up(bench, lambda: ops.run(job, timed=False))
    setup_s = time.time() - bench.t_process
    gc0 = tracer.jvm_gc_s()
    state["measuring"] = True
    ops.measure(job, bench.seconds)
    state["measuring"] = False
    jobs = len(ops.plain) + len(ops.traced)

    last = str((state["job"] - 1) % 2)
    dirs = [f"{out}/{n}/batch_id={last}" for n, _ in plans]
    rows = oracle.row_count(*dirs)
    files, size = map(sum, zip(*(_dir_stats(d) for d in dirs)))
    live = int((state["versions"] > 0).sum())
    job_s = median(ops.plain)
    metrics = {
        "setup_s": setup_s,
        "job_s": job_s,
        "input_rows_per_s": input_rows / job_s,
        # closed loop: the landing zone is complete when a job starts, so a
        # night's documents are fresh once both are committed (before the merge)
        "freshness_s_p50": median(docs_s),
        "sink_bytes_per_row": (size + _dir_stats(table)[1]) / (rows + live),
    }
    if not bench.trace:
        return _result(metrics, END_TO_END, ops.attempted, ops.failed)

    traced = len(ops.traced)
    layer = _session_metrics(bench, tracer, gc0, jobs)
    layer.update(ops.trace_metrics())
    layer["sources.catalog.load_table_s"] = \
        sum(tracer.spans["sources.catalog.load_table"]) / traced
    scans = [tracer.stage_metrics(f"sinks.writer.{n}") for n, _ in plans]
    layer["sources.catalog.scan_rows"] = sum(s.get("input_rows", 0) for s in scans) / traced
    layer["sources.catalog.scan_bytes"] = sum(s.get("input_bytes", 0) for s in scans) / traced
    merged = tracer.stage_metrics("sinks.merge")
    layer["sinks.merge.merge_upsert_s"] = median(tracer.spans["sinks.merge"])
    layer["sinks.merge.partitions_rewritten"] = median([p for p, _ in rewrites])
    layer["sinks.merge.rows_rewritten_per_update_row"] = median([r for _, r in rewrites])
    layer["sinks.merge.bytes_written"] = merged.get("output_bytes", 0.0) / traced

    # plan profile: each plan forced through a `noop` write, no file sink
    spark, profile = state["spark"], 2
    for name, plan in plans:
        tracer.enabled = True
        for _ in range(profile):
            with tracer.span(f"plans.{name}"):
                plan(spark, sf).write.format("noop").mode("overwrite").save()
        tracer.enabled = False
        st = tracer.stage_metrics(f"plans.{name}")
        layer[f"plans.{name}.exec_s"] = median(tracer.spans[f"plans.{name}"])
        for m in ("stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
            layer[f"plans.{name}.{m}"] = st.get(m, 0.0) / profile
        layer[f"plans.{name}.task_skew"] = st.get("task_skew", 0.0)
    layer["sinks.writer.retried_write_s"] = sum(
        median(tracer.spans[f"sinks.writer.{n}"]) - layer[f"plans.{n}.exec_s"]
        for n, _ in plans) / len(plans)
    layer["sinks.writer.attempts_per_write"] = sum(writes) / len(writes)
    layer["sinks.writer.files_written"] = files / len(plans)
    layer["sinks.writer.bytes_written"] = size / len(plans)

    # single-threaded baseline: the same job on local[1], in the same JVM,
    # after one untimed job on the new context
    spark.stop()
    state["spark"] = bench.start_session(cpus=1)
    serial = [ops.run(job, timed=False) for _ in range(1 + SERIAL_JOBS)][1:]
    bench.diag["serial_job_s"] = [round(t, 3) for t in serial]
    layer["session.parallel_speedup"] = median(serial) / job_s
    return _result(layer, PER_LAYER, ops.attempted, ops.failed)


# --------------------------------------------------------------------------
# incremental_landing: open-loop page landing, AvailableNow cycles

LAND_RATE = 10.0  # files per second, well below capacity
WARM_FILES = 30  # landed across the warm-up cycles, 10 per cycle


class _Lander(threading.Thread):
    """Lands pre-generated page files on a fixed schedule, however the
    engine keeps up: write to a hidden name, then rename into place."""

    def __init__(self, landing: str, pages: list[tuple[str, str]], rate: float):
        super().__init__(daemon=True)
        self.landing, self.pages, self.rate = landing, pages, rate
        self.scheduled: list[float] = []
        self.landed: list[float] = []

    def run(self) -> None:
        t0 = time.time()
        for i, (name, text) in enumerate(self.pages):
            due = t0 + i / self.rate
            pause = due - time.time()
            if pause > 0:
                time.sleep(pause)
            _land(self.landing, name, text)
            self.scheduled.append(due)
            self.landed.append(time.time())


def _new_file(lander: _Lander, cycles: list[tuple[float, float]]) -> bool:
    landed = list(lander.landed)
    return bool(landed) and landed[-1] > cycles[-1][1]


def _land(landing: str, name: str, text: str) -> None:
    tmp = os.path.join(landing, "." + name + ".tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(text)
    os.rename(tmp, os.path.join(landing, name))


def incremental_landing(bench) -> dict:
    from pyspark.sql import functions as F

    import historic_score_etl_pipeline_spark.sinks.writer as writer_mod
    from historic_score_etl_pipeline_spark.sinks.writer import ErrorChannel
    from historic_score_etl_pipeline_spark.sources.pages_source import (
        MatchPagesDataSource,
        parse_page_tokens,
    )
    from historic_score_etl_pipeline_spark.streaming.jobs import run_foreach_batch_sink

    landing, out, ckpt = bench.path("pages"), bench.path("sink"), bench.path("ckpt")
    os.makedirs(landing)
    n_files = WARM_FILES + int(LAND_RATE * bench.seconds)
    pages, kept = [], []
    for i in range(n_files):
        text, rows = gen.page_file(bench.seed, i)
        pages.append((f"p{i:08d}.txt", text))
        kept.append(rows)
    spark = bench.start_session()
    spark.dataSource.register(MatchPagesDataSource)
    stream = (
        spark.readStream.format("match_pages").option("path", landing).load()
        .withColumn("goal_diff", F.col("home_goal") - F.col("away_goal"))
    )
    tracer = Tracer(spark)
    errors = ErrorChannel()
    listener = progress_listener()
    if bench.trace:
        tracer.wrap(writer_mod, "retried_write", "sinks.writer.retried_write")
    cycles: list[tuple[float, float]] = []
    traced_batches: list = []

    def cycle():
        on = tracer.enabled
        if on:
            listener.reset()
            spark.streams.addListener(listener)
        t0 = time.time()
        run_foreach_batch_sink(stream, out, ckpt, errors)
        t1 = time.time()
        if on:
            listener.terminated.wait(10)
            spark.streams.removeListener(listener)
            traced_batches.append(list(listener.progress))
        cycles.append((t0, t1))
        return t1 - t0, ([f"sink errors: {errors.records[:1]}"] if errors.records else [])

    ops = _Ops(bench, tracer)
    warm = iter(pages[:WARM_FILES])

    def warm_cycle() -> float:
        for _ in range(WARM_FILES // WARM_JOBS):
            _land(landing, *next(warm))
        return ops.run(cycle, timed=False)

    _warm_up(bench, warm_cycle)
    setup_s = time.time() - bench.t_process

    gc0 = tracer.jvm_gc_s()
    cpu0 = python_worker_cpu_s(bench.jvm_pid)
    tree0 = tree_cpu_s(os.getpid())
    first = len(cycles)
    lander = _Lander(landing, pages[WARM_FILES:], LAND_RATE)
    lander.start()
    # A cycle starts only once a file has landed since the previous cycle
    # ended: a cycle without new files trips a known engine defect (see
    # README.md).
    while lander.is_alive():
        if _new_file(lander, cycles):
            ops.run(cycle, timed=True)
        else:
            time.sleep(0.005)
    lander.join()
    want = Counter(r for rows in kept for r in rows)
    if oracle.row_count(out) < sum(want.values()):
        ops.run(cycle, timed=True)  # drain what landed during the last cycle
    cpu1 = python_worker_cpu_s(bench.jvm_pid)
    engine_cpu_s = tree_cpu_s(os.getpid()) - tree0
    bench.diag["window_cpu_s"] = {"tree": round(engine_cpu_s, 3),
                                  "python_workers": round(cpu1 - cpu0, 3)}
    window = cycles[first:]

    # exactly-once: the sink holds every kept row of every landed file once
    got = Counter(oracle.sink_rows(out))
    parsed = Counter(r for _, text in pages
                     for r in parse_page_tokens(text.replace("\n", ",").split(",")))
    bad_files = 0
    if got != want or parsed != want:
        diff = set((got - want) + (want - got) + (parsed - want) + (want - parsed))
        bad_files = sum(1 for rows in kept if diff.intersection(rows))
        print(f"etl_bench exactly-once check failed for {bad_files} files", file=sys.stderr)
    attempted = len(pages)
    failed = bad_files + ops.failed

    fresh = freshness(lander.scheduled, lander.landed, window)
    job_s = median(ops.plain)
    files, size = _dir_stats(out)
    measured_rows = gen.RECORDS_PER_PAGE * len(lander.landed)
    metrics = {
        "setup_s": setup_s,
        "job_s": job_s,
        # open loop: wall-clock throughput is the landing rate, whatever the
        # engine does, so this is records landed per CPU second the whole
        # process tree (driver, JVM, Python workers) spent in the window
        "input_rows_per_s": measured_rows / engine_cpu_s,
        "freshness_s_p50": median(fresh),
        "sink_bytes_per_row": size / sum(got.values()),
    }
    if not bench.trace:
        return _result(metrics, END_TO_END, attempted, failed)

    layer = _session_metrics(bench, tracer, gc0, len(window))
    layer.update(ops.trace_metrics())
    tokens = [text.replace("\n", ",").split(",") for _, text in pages]
    t0 = time.perf_counter()
    parsed_rows = sum(sum(1 for _ in parse_page_tokens(t)) for t in tokens)
    layer["sources.pages_source.parse_rows_per_s"] = parsed_rows / (time.perf_counter() - t0)
    layer["sources.pages_source.kept_ratio"] = parsed_rows / (gen.RECORDS_PER_PAGE * len(pages))
    layer["sources.pages_source.python_cpu_s"] = (cpu1 - cpu0) / len(window)
    writes = tracer.spans["sinks.writer.retried_write"]
    if writes:
        layer["sinks.writer.retried_write_s"] = median(writes)
        layer["sinks.writer.attempts_per_write"] = 1 + len(errors.records) / len(writes)
    batches_on_disk = max(1, len(os.listdir(out)))
    layer["sinks.writer.files_written"] = files / batches_on_disk
    layer["sinks.writer.bytes_written"] = size / batches_on_disk
    batches = [b for per_cycle in traced_batches for b in per_cycle]
    layer["streaming.cycle_s"] = median(ops.traced) if ops.traced else 0.0
    layer["streaming.batches_per_cycle"] = len(batches) / max(1, len(traced_batches))
    with_rows = [n for _, n, _ in batches if n > 0]
    layer["streaming.rows_per_batch"] = median(with_rows) if with_rows else 0.0
    for phase in TRIGGER_PHASES:
        vals = [d.get(phase, 0) for _, _, d in batches]
        layer[f"streaming.trigger_ms.{phase}"] = median(vals) if vals else 0.0
    total = sum(d.get("triggerExecution", 0) for _, _, d in batches)
    added = sum(d.get("addBatch", 0) for _, _, d in batches)
    layer["streaming.overhead_frac"] = 1 - added / total if total else 0.0
    layer["freshness_s_p90"] = percentile(fresh, 0.9) or 0.0
    layer["generator.lag_s_max"] = max(b - a for a, b in zip(lander.scheduled, lander.landed))
    return _result(layer, PER_LAYER, attempted, failed)


def _partition_files(table: str) -> dict[str, frozenset]:
    return {
        p: frozenset(os.listdir(os.path.join(table, p)))
        for p in os.listdir(table) if p.startswith("part=")
    }


WORKLOADS = {
    "nightly_etl": nightly_etl,
    "incremental_landing": incremental_landing,
}
