"""Metrics of one benchmark run, computed from the JVM's run record.

The record (written by graftbench.Main) holds raw timings: set-up times,
the timed ops of every unit, and for traced runs the span tree plus every
Spark job and stage with the span tag its job carried. Everything here is
plain arithmetic over that record, so it is tested without a JVM.
"""

import math
import statistics

# End-to-end metrics every workload reports (printed with --trace 0). A
# unit is one closed-loop iteration: a varinfo update (match + publish) or
# an ingest tick (text batch + vector batch + committed read). The p50s are
# over warm units; ingest ticks that compact are left out of them.
END_TO_END = [
    # name, unit
    ("setup_s", "s"),       # median of the run's cold set-ups
    ("cold_s", "s"),        # the first unit of the process
    ("iter_p50_s", "s"),    # a warm unit
    ("main_p50_s", "s"),    # its main op: varinfo match, ingest text batch
]


# Per-layer metrics every workload reports (printed with --trace 1): the
# Spark runtime per traced unit, the workload's main op, and the per-module
# job and file counts (0 on a workload that makes no call into the module).
PER_LAYER = [
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.exec_cpu_s", "s"),
    ("spark.shuffle_write_records", "count"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.input_bytes", "bytes"),
    ("driver.outside_jobs_s", "s"),
    ("jvm.gc_s", "s"),
    ("io.files_written", "count"),
    ("main.jobs", "count"),
    ("main.stages", "count"),
    ("main.exec_cpu_s", "s"),
    ("main.driver_s", "s"),
    ("main.busy_cores", "cores"),
    ("pipeline.join_varinfo_jobs", "count"),
    ("io.csv_write_jobs", "count"),
    ("streaming.text_jobs_per_batch", "count"),
    ("streaming.text_stages_per_batch", "count"),
    ("streaming.text_files_written_per_batch", "count"),
    ("streaming.vec_jobs_per_batch", "count"),
    ("streaming.vec_stages_per_batch", "count"),
    ("streaming.vec_files_written_per_batch", "count"),
    ("streaming.compact_jobs", "count"),
    ("streaming.read_jobs", "count"),
    ("streaming.read_input_bytes", "bytes"),
    ("spark.untagged_jobs", "count"),
    ("trace.overhead_frac", "ratio"),
]

# The module-level table of a traced run (written to the run's results
# file): self times, executor CPU and counts per module call, 0 where the
# workload makes no such call.
LAYER_DETAIL = [
    "pipeline.join_varinfo_s", "pipeline.join_varinfo_exec_cpu_s",
    "pipeline.join_varinfo_busy_cores", "pipeline.join_varinfo_jobs",
    "io.qualtrics_read_s", "io.csv_read_s", "io.csv_write_s",
    "io.csv_write_jobs", "ops.recency_sort_s",
    "streaming.text_jobs_per_batch", "streaming.text_stages_per_batch",
    "streaming.text_exec_cpu_s_per_batch",
    "streaming.text_driver_s_per_batch",
    "streaming.text_files_written_per_batch",
    "streaming.vec_jobs_per_batch", "streaming.vec_stages_per_batch",
    "streaming.vec_exec_cpu_s_per_batch", "streaming.vec_driver_s_per_batch",
    "streaming.vec_files_written_per_batch",
    "streaming.compact_s", "streaming.compact_jobs",
    "streaming.read_jobs", "streaming.read_input_bytes",
    "streaming.store_bytes_per_input_byte",
]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, beyond=10):
    """The highest whole percentile with at least `beyond` samples above
    it (nearest-rank), as (value, percentile, samples beyond); None when
    there are too few samples for any percentile."""
    n = len(xs)
    ys = sorted(xs)
    for p in range(99, 0, -1):
        rank = math.ceil(p / 100 * n)
        if rank >= 1 and n - rank >= beyond:
            return ys[rank - 1], p, n - rank
    return None


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, cur = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= cur:
            continue
        a = max(a, cur)
        total += b - a
        cur = b
    return total


def self_times(spans):
    """Span id -> self time: its duration minus the part its child spans
    cover (in the spans' time unit)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return {s["id"]: (s["end"] - s["start"]) -
            covered([(c["start"], c["end"]) for c in kids.get(s["id"], [])],
                    s["start"], s["end"])
            for s in spans}


def _descendants(spans):
    """Span id -> the set of its own id and all descendant ids."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    out = {}

    def walk(i):
        if i not in out:
            acc = {i}
            for k in kids.get(i, []):
                acc |= walk(k)
            out[i] = acc
        return out[i]

    for s in spans:
        walk(s["id"])
    return out


def unit_times(record):
    t = {}
    for op in record["ops"]:
        t[op["unit"]] = t.get(op["unit"], 0.0) + op["s"]
    return t


def compacting(record):
    return set(record.get("extra", {}).get("compact_units", []))


def end_to_end(record):
    """END_TO_END plus, for the results file, the rest of the unit (unit
    minus main op), peak RSS and the warm sample count."""
    times = unit_times(record)
    main = {op["unit"]: op["s"] for op in record["ops"]
            if op["name"] == record["main_op"]}
    warm = [u for u in sorted(times) if u >= 1 and u not in compacting(record)]
    return {
        "setup_s": median(record["setups_s"]),
        "cold_s": times.get(0, 0.0),
        "iter_p50_s": median([times[u] for u in warm]),
        "main_p50_s": median([main[u] for u in warm]),
        "rest_p50_s": median([times[u] - main[u] for u in warm]),
        "peak_rss_mb": record["peak_rss_mb"],
        "warm_units": len(warm),
    }


def tails(record):
    """The `_tail` figures, where a run has enough samples for one."""
    times = unit_times(record)
    out = {}
    series = {"iter": [times[u] for u in sorted(times) if u >= 1]}
    for op in record["ops"]:
        if op["unit"] >= 1:
            series.setdefault(op["name"], []).append(op["s"])
    for name, xs in series.items():
        t = tail(xs)
        if t:
            out[f"{name}_tail_s"] = {"value": t[0], "percentile": t[1],
                                     "beyond": t[2]}
    return out


class _Trace:
    """Index over a traced run's spans, jobs and stages."""

    def __init__(self, record):
        self.spans = record["spans"]
        spark = record["spark"] or {"jobs": [], "stages": []}
        self.jobs = spark["jobs"]
        self.selft = self_times(self.spans)
        self.desc = _descendants(self.spans)
        self.stages_by_tag, self.jobs_by_tag = {}, {}
        for st in spark["stages"]:
            self.stages_by_tag.setdefault(st["tag"], []).append(st)
        for j in self.jobs:
            self.jobs_by_tag.setdefault(j["tag"], []).append(j)
        self.traced = [u["i"] for u in record["units"]
                       if u["traced"] and u["i"] >= 1]

    def named(self, unit, name):
        return [s for s in self.spans
                if s["unit"] == unit and s["name"] == name]

    def inclusive(self, span):
        """Stages and jobs tagged with the span or any descendant."""
        tags = [str(i) for i in self.desc[span["id"]]]
        return ([st for t in tags for st in self.stages_by_tag.get(t, [])],
                [j for t in tags for j in self.jobs_by_tag.get(t, [])])

    def outside_jobs_s(self, span):
        _, js = self.inclusive(span)
        return (span["end"] - span["start"] - covered(
            [(j["start"], j["end"]) for j in js],
            span["start"], span["end"])) / 1e3

    def self_s(self, unit, name):
        return sum(self.selft[s["id"]] for s in self.named(unit, name)) / 1e3

    def cpu_s(self, unit, name):
        return sum(st["cpu_s"] for s in self.named(unit, name)
                   for st in self.inclusive(s)[0])

    def jobs_n(self, unit, name):
        return sum(len(self.inclusive(s)[1]) for s in self.named(unit, name))


def _wall(span):
    return (span["end"] - span["start"]) / 1e3


def layer_detail(record):
    """The module-level table (LAYER_DETAIL) of a traced run: medians over
    traced warm units, compacting ticks left out except for the
    `streaming.compact_*` figures, which only they have."""
    t = _Trace(record)
    extra = record.get("extra", {})
    skip = compacting(record)
    xs = {name: [] for name in LAYER_DETAIL}
    for u in t.traced:
        for s in t.named(u, "streaming.compact"):
            xs["streaming.compact_s"].append(_wall(s))
            xs["streaming.compact_jobs"].append(len(t.inclusive(s)[1]))
        if u in skip:
            continue
        jv = t.named(u, "pipeline.join_varinfo")
        if jv:
            cpu = t.cpu_s(u, "pipeline.join_varinfo")
            xs["pipeline.join_varinfo_s"].append(t.self_s(u, "pipeline.join_varinfo"))
            xs["pipeline.join_varinfo_exec_cpu_s"].append(cpu)
            xs["pipeline.join_varinfo_busy_cores"].append(
                cpu / max(1e-9, sum(_wall(s) for s in jv)))
            xs["pipeline.join_varinfo_jobs"].append(
                t.jobs_n(u, "pipeline.join_varinfo"))
            xs["io.qualtrics_read_s"].append(t.self_s(u, "io.qualtrics_read"))
            xs["io.csv_read_s"].append(t.self_s(u, "io.csv_read"))
            xs["io.csv_write_s"].append(t.self_s(u, "io.csv_write"))
            xs["io.csv_write_jobs"].append(t.jobs_n(u, "io.csv_write"))
            xs["ops.recency_sort_s"].append(t.self_s(u, "ops.recency_sort"))
        for side in ("text", "vec"):
            for s in t.named(u, f"streaming.{side}_batch"):
                st, js = t.inclusive(s)
                xs[f"streaming.{side}_jobs_per_batch"].append(len(js))
                xs[f"streaming.{side}_stages_per_batch"].append(len(st))
                xs[f"streaming.{side}_exec_cpu_s_per_batch"].append(
                    sum(x["cpu_s"] for x in st))
                xs[f"streaming.{side}_driver_s_per_batch"].append(
                    t.outside_jobs_s(s))
        for s in t.named(u, "streaming.read"):
            st, js = t.inclusive(s)
            xs["streaming.read_jobs"].append(len(js))
            xs["streaming.read_input_bytes"].append(
                sum(x["input_bytes"] for x in st))
    for side in ("text", "vec"):
        xs[f"streaming.{side}_files_written_per_batch"] = [
            f["n"] for f in extra.get(f"{side}_files_written", [])
            if f["unit"] in t.traced and f["unit"] not in skip]
    out = {name: float(median(v)) for name, v in xs.items()}
    if extra.get("offered_bytes"):
        out["streaming.store_bytes_per_input_byte"] = \
            extra["store_bytes"] / extra["offered_bytes"]
    return out


def per_layer(record):
    """The PER_LAYER metrics of a traced run: medians over its traced warm
    units and traced batches."""
    t = _Trace(record)
    detail = layer_detail(record)
    # per-unit figures over like units, as end_to_end: compacting ticks
    # are left out (compaction has its own streaming.compact_* figures)
    skip = compacting(record)
    units = [u for u in t.traced if u not in skip]
    xs = {name: [] for name, _ in PER_LAYER}
    for u in units:
        for root in t.named(u, "unit"):
            st, js = t.inclusive(root)
            xs["spark.jobs"].append(len(js))
            xs["spark.stages"].append(len(st))
            xs["spark.tasks"].append(sum(x["tasks"] for x in st))
            xs["spark.exec_cpu_s"].append(sum(x["cpu_s"] for x in st))
            xs["spark.shuffle_write_records"].append(
                sum(x["sw_records"] for x in st))
            xs["spark.shuffle_write_bytes"].append(
                sum(x["sw_bytes"] for x in st))
            xs["spark.spill_bytes"].append(sum(x["spill_bytes"] for x in st))
            xs["spark.input_bytes"].append(sum(x["input_bytes"] for x in st))
            xs["driver.outside_jobs_s"].append(t.outside_jobs_s(root))
        for s in t.named(u, record["main_op"]):
            st, js = t.inclusive(s)
            xs["main.jobs"].append(len(js))
            xs["main.stages"].append(len(st))
            cpu = sum(x["cpu_s"] for x in st)
            xs["main.exec_cpu_s"].append(cpu)
            xs["main.driver_s"].append(t.outside_jobs_s(s))
            xs["main.busy_cores"].append(cpu / max(1e-9, _wall(s)))
    for x in record["units"]:
        if x["i"] in units:
            xs["jvm.gc_s"].append(x["gc_s"])
    xs["io.files_written"] = [f["n"] for f in record.get("files_written", [])
                              if f["unit"] in units]
    out = {}
    for name, _ in PER_LAYER:
        out[name] = float(median(xs[name])) if xs[name] else detail.get(name, 0.0)
    out["spark.untagged_jobs"] = float(
        sum(1 for j in t.jobs if j["tag"] is None))
    # tracing overhead: traced against untraced warm units of this run
    times = unit_times(record)
    on = [times[u["i"]] for u in record["units"]
          if u["i"] >= 1 and u["traced"] and u["i"] not in skip]
    off = [times[u["i"]] for u in record["units"]
           if u["i"] >= 1 and not u["traced"] and u["i"] not in skip]
    out["trace.overhead_frac"] = (median(on) / median(off) - 1
                                  if on and off else 0.0)
    return out
