"""Per-layer metrics of a traced run.

Every value is a mean per operation over the traced passes (set-up
values are medians over the set-ups), so runs of different lengths
compare directly. Times are self times: a span's duration minus what
its child spans cover. Job counts are self counts the same way.
``exec.*`` engine counters come from Spark's status store and cover
every stage an operation ran, whichever layer submitted it.
"""

from __future__ import annotations

from collections import defaultdict
from statistics import median

from tracer import Tracer, self_times, self_values

# name -> (unit, better); the order is the order they are printed in
PER_LAYER = {
    "session.get_spark_s": ("s", "lower"),
    "queries.load_all_s": ("s", "lower"),
    "tables.t_calls": ("count", "lower"),
    "tables.t_s": ("s", "lower"),
    "tables.t_jobs": ("count", "lower"),
    "queries.build_self_s": ("s", "lower"),
    "queries.build_jobs": ("count", "lower"),
    "plan.s": ("s", "lower"),
    "llm.s": ("s", "lower"),
    "llm.jobs": ("count", "lower"),
    "functions.s": ("s", "lower"),
    "operators.s": ("s", "lower"),
    "operators.jobs": ("count", "lower"),
    "streaming.s": ("s", "lower"),
    "exec.s": ("s", "lower"),
    "exec.jobs": ("count", "lower"),
    "exec.stages": ("count", "lower"),
    "exec.tasks": ("count", "lower"),
    "exec.task_run_s": ("s", "lower"),
    "exec.task_cpu_s": ("s", "lower"),
    "exec.gc_s": ("s", "lower"),
    "exec.failed_tasks": ("count", "lower"),
    "exec.core_util": ("frac", "higher"),
    "exec.single_task_stage_frac": ("frac", "lower"),
    "exec.input_mb": ("MiB", "lower"),
    "exec.shuffle_write_mb": ("MiB", "lower"),
    "exec.shuffle_read_mb": ("MiB", "lower"),
    "exec.spill_mb": ("MiB", "lower"),
    "exec.offcpu_frac": ("frac", "lower"),
    "io.read_json_s": ("s", "lower"),
    "io.read_parquet_s": ("s", "lower"),
    "io.write_parquet_s": ("s", "lower"),
    "io.write_avro_s": ("s", "lower"),
    "io.serving_sink_s": ("s", "lower"),
    "io.bytes_written_mb": ("MiB", "lower"),
    "io.files_written": ("count", "lower"),
    "io.storage_amp": ("ratio", "lower"),
    "pipeline.run_medallion_self_s": ("s", "lower"),
    "trace.overhead_frac": ("frac", "lower"),
}

# per-layer metric -> span name whose self time (or jobs) it sums
_BY_NAME_S = {
    "tables.t_s": "tables.t",
    "queries.build_self_s": "queries.build",
    "plan.s": "plan",
    "io.read_json_s": "io.read_json",
    "io.read_parquet_s": "io.read_parquet",
    "io.write_parquet_s": "io.write_parquet",
    "io.write_avro_s": "io.write_avro",
    "io.serving_sink_s": "io.serving_sink",
    "pipeline.run_medallion_self_s": "pipeline.run_medallion",
}
_BY_NAME_JOBS = {"tables.t_jobs": "tables.t", "queries.build_jobs": "queries.build"}
_BY_LAYER_S = {
    "llm.s": "llm",
    "functions.s": "functions",
    "operators.s": "operators",
    "streaming.s": "streaming",
}
_BY_LAYER_JOBS = {"llm.jobs": "llm", "operators.jobs": "operators"}


def overhead(lat_plain, lat_traced) -> float:
    """Traced over untraced wall time, on the operations both ran:
    sum of per-operation mean latencies, traced ÷ untraced, minus 1."""

    def means(lat):
        acc = defaultdict(list)
        for name, d in lat:
            acc[name].append(d)
        return {n: sum(v) / len(v) for n, v in acc.items()}

    a, b = means(lat_plain), means(lat_traced)
    common = a.keys() & b.keys()
    if not common:
        return 0.0
    return sum(b[n] for n in common) / sum(a[n] for n in common) - 1.0


def metrics(
    tracer: Tracer,
    setups: dict[str, list[float]],
    lat_plain,
    lat_traced,
    per_op: list[dict[str, float]],
    cores: int,
    written: tuple[int, int],
    landing_bytes: int,
) -> dict[str, tuple[float, str]]:
    spans = tracer.spans
    t_self = self_times(spans)
    j_self = self_values(spans, lambda s: s.jobs)
    by_name_s, by_name_j = defaultdict(float), defaultdict(float)
    by_layer_s, by_layer_j = defaultdict(float), defaultdict(float)
    calls = defaultdict(int)
    op_wall = op_jobs = exec_wall = 0.0
    n_ops = 0
    for s, ts, js in zip(spans, t_self, j_self):
        if s.name == "op":
            n_ops += 1
            op_wall += s.end - s.start
            op_jobs += s.jobs
            continue
        if s.name == "exec":  # inclusive: it holds run_medallion's spans
            exec_wall += s.end - s.start
        by_name_s[s.name] += ts
        by_name_j[s.name] += js
        by_layer_s[s.layer] += ts
        by_layer_j[s.layer] += js
        calls[s.name] += 1
    n = max(1, n_ops)
    eng = defaultdict(float)
    for d in per_op:
        for k, v in d.items():
            eng[k] += v
    mib = 1024.0 * 1024.0
    v: dict[str, float] = {
        "session.get_spark_s": median(setups["get_spark"]),
        "queries.load_all_s": median(setups["load_all"]),
        "tables.t_calls": calls["tables.t"] / n,
        "exec.s": exec_wall / n,
        "exec.jobs": op_jobs / n,
        "exec.core_util": eng["task_run_s"] / max(1e-9, op_wall * cores),
        "exec.single_task_stage_frac": eng["single_task_stages"] / max(1.0, eng["stages"]),
        "exec.offcpu_frac": (
            1.0 - eng["task_cpu_s"] / eng["task_run_s"] if eng["task_run_s"] else 0.0
        ),
        "io.bytes_written_mb": written[0] / mib,
        "io.files_written": float(written[1]),
        "io.storage_amp": written[0] / landing_bytes if landing_bytes else 0.0,
        "trace.overhead_frac": overhead(lat_plain, lat_traced),
    }
    for key in ("stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "failed_tasks"):
        v[f"exec.{key}"] = eng[key] / n
    for key in ("input_mb", "shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
        v[f"exec.{key}"] = eng[key] / n
    for m, name in _BY_NAME_S.items():
        v[m] = by_name_s[name] / n
    for m, name in _BY_NAME_JOBS.items():
        v[m] = by_name_j[name] / n
    for m, layer in _BY_LAYER_S.items():
        v[m] = by_layer_s[layer] / n
    for m, layer in _BY_LAYER_JOBS.items():
        v[m] = by_layer_j[layer] / n
    return {k: (v[k], unit) for k, (unit, _better) in PER_LAYER.items()}
