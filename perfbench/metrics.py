"""Turns one run's raw results (written by the JVM harness) into the
benchmark's metrics. Pure functions; tested by perfbench/test_metrics.py.
"""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

# Headline Registry queries the `queries` workload runs (README.md says why).
QUERIES = ["q_run_tree_rollup", "q_dedup_minhash", "q3_shipping_priority",
           "q_sessionize", "q_json_agg_tokens", "q6_revenue"]

END_TO_END = [
    ("ops_per_s", "1/s"), ("op_p50_ms", "ms"), ("op_tail_ms", "ms"),
    ("read_s", "s"), ("setup_s", "s"), ("rss_peak_mb", "MB"),
]

SPARK = [("jobs", "count"), ("stages", "count"), ("tasks", "count"),
         ("task_cpu_s", "s"), ("gc_s", "s"), ("shuffle_write_mb", "MB")]

PER_LAYER = [
    ("ingest.build_us_p50", "us"),
    ("sink.append_us_p50", "us"), ("sink.caller_blocked_share", "share"),
    ("sink.flushes", "count"), ("sink.flush_failed", "count"),
    ("parquet.write_ms_p50", "ms"), ("parquet.files_per_flush", "count"),
    ("parquet.bytes_per_user_byte", "ratio"),
    ("query.readback_files", "count"), ("query.trace_ms_p50", "ms"),
] + [(f"q.{q}.{m}", u) for q in QUERIES for m, u in (("s", "s"), ("jobs", "count"))] \
  + [(f"spark.{m}", u) for m, u in SPARK]


# Callback latency tail. One call in 100 flushes, so p99 sits on that cliff;
# p99.5 lies inside the flush calls (the middle of their wait + write) and
# keeps ten samples beyond it from 2000 calls, which every run exceeds.
# p99.9 would need 10000 calls, more than a run makes with the flushes'
# writes serialized.
INGEST_TAIL = 99.5


def rank(n, p):
    """1-based nearest rank of the p-th percentile among n samples. The
    tolerance keeps float error (99.9 / 100 * 10000 = 9990.000000000002)
    from pushing the rank up by one."""
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    if not values:
        return 0.0
    xs = sorted(values)
    return xs[rank(len(xs), p) - 1]


def beyond(n, p):
    """Samples strictly above the nearest-rank p-th percentile of n."""
    return n - rank(n, p) if n else 0


def median(values):
    return statistics.median(values) if values else 0.0


def self_times(spans):
    """Span id -> its duration minus the part of it its children cover.

    spans: iterable of (id, parent, start, end). Children may overlap each
    other (concurrent child work), so their intervals are merged first.
    """
    spans = list(spans)
    children = {}
    for sid, parent, start, end in spans:
        children.setdefault(parent, []).append((start, end))
    out = {}
    for sid, _, start, end in spans:
        covered, cur_s, cur_e = 0, None, None
        for cs, ce in sorted(children.get(sid, [])):
            cs, ce = max(cs, start), min(ce, end)
            if ce <= cs:
                continue
            if cur_e is None or cs > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = cs, ce
            else:
                cur_e = max(cur_e, ce)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[sid] = (end - start) - covered
    return out


def setup_seconds(raw):
    """JVM start + session + the median input preparation + the warm-up."""
    return raw["jvm_start_s"] + raw["session_s"] + median(raw["prepare_s"]) + raw["warm_s"]


def end_to_end(workload, raw):
    """The end-to-end metric values of one untraced run, plus the same
    numbers under the workload's own names."""
    if workload == "ingest":
        lat = raw["append_us"]
        tail_ms = percentile(lat, INGEST_TAIL) / 1e3
        # The median is taken per tree: the four callback types cost about
        # 6, 8, 13 and 17 us, so the median of single callbacks falls in the
        # gap between two of them and jumps when their mix shifts.
        tree_p50 = percentile(raw["tree_us"], 50)
        own = {"ingest_events_per_s": (raw["ingest_events_per_s"], "1/s"),
               "tree_callbacks_p50_us": (tree_p50, "us"),
               "append_p50_us": (percentile(lat, 50), "us"),
               "append_p995_ms": (tail_ms, "ms"),
               "readback_s": (raw["readback_s"], "s")}
        vals = {"ops_per_s": raw["ingest_events_per_s"],
                "op_p50_ms": tree_p50 / 1e3, "op_tail_ms": tail_ms,
                "read_s": raw["readback_s"]}
        samples, tail = len(lat), INGEST_TAIL
    else:
        per_query = {q: median(w) for q, w in raw["query_s"].items()}
        total = sum(per_query.values())
        own = {"queries_total_s": (total, "s")}
        own.update({f"{q}_s": (v, "s") for q, v in sorted(per_query.items())})
        vals = {"ops_per_s": len(per_query) / total,
                "op_p50_ms": median(list(per_query.values())) * 1e3,
                "op_tail_ms": max(per_query.values()) * 1e3, "read_s": total}
        samples, tail = sum(len(w) for w in raw["query_s"].values()), 100.0
    vals["setup_s"] = setup_seconds(raw)
    vals["rss_peak_mb"] = raw["rss_peak_mb"]
    own["setup_s"] = (vals["setup_s"], "s")
    own["rss_peak_mb"] = (vals["rss_peak_mb"], "MB")
    own["samples"] = (samples, "count")
    own["samples_beyond_tail"] = (beyond(samples, tail), "count")
    return vals, own


def per_layer(workload, raw):
    """The per-layer metric values of one traced run; layers the workload
    does not run read 0."""
    vals = {name: 0.0 for name, _ in PER_LAYER}
    spans = raw.get("spans", [])
    st = self_times((s[0], s[1], s[4], s[5]) for s in spans)
    by_name = {}
    for s in spans:
        by_name.setdefault(s[3], []).append(s)

    def durations(name, scale):
        """Wall times of the spans called `name`; spans are in ns."""
        return [(s[5] - s[4]) / scale for s in by_name.get(name, [])]

    if workload == "ingest":
        callbacks = by_name.get("ingest.callback", [])
        writes = durations("parquet.write", 1e6)
        flushes = raw["sink_flushes"]
        vals["ingest.build_us_p50"] = percentile([st[s[0]] / 1e3 for s in callbacks], 50)
        vals["sink.append_us_p50"] = percentile(durations("sink.append", 1e3), 50)
        # downstream calls (lock wait + write) made inside a callback, over
        # callback wall
        names = {s[0]: s[3] for s in spans}
        blocked = sum(s[5] - s[4] for s in by_name.get("sink.downstream", [])
                      if names.get(s[1]) == "sink.append")
        vals["sink.caller_blocked_share"] = blocked / max(1, sum(s[5] - s[4] for s in callbacks))
        vals["sink.flushes"] = flushes
        vals["sink.flush_failed"] = raw["sink_flush_failed"]
        vals["parquet.write_ms_p50"] = percentile(writes, 50)
        ok = flushes - raw["sink_flush_failed"]
        vals["parquet.files_per_flush"] = raw["parquet_files"] / max(1, ok)
        vals["parquet.bytes_per_user_byte"] = raw["parquet_bytes"] / max(1.0, raw["user_bytes"])
        vals["query.readback_files"] = raw["parquet_files"]
        vals["query.trace_ms_p50"] = percentile(durations("query.trace", 1e6), 50)
    else:
        for q in QUERIES:
            qs = by_name.get(f"q.{q}", [])
            vals[f"q.{q}.s"] = median([(s[5] - s[4]) / 1e9 for s in qs])
            vals[f"q.{q}.jobs"] = median([s[6] for s in qs])
    for m, _ in SPARK:
        vals[f"spark.{m}"] = raw["spark"][m]
    return vals
