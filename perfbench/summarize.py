#!/usr/bin/env python3
"""Per-layer metrics from a traced benchmark run.

    python3 perfbench/summarize.py perfbench/work/traces/<workload>-seed<n>.jsonl ...

A trace holds one JSON span per line (see harness Trace.scala): spans the
benchmark opened around its calls into each layer, one span per
scheduler job and stage, and point records (plan shape and Catalyst
phases of each executed query, leaks, file counts). For each trace this
prints every layer's span count, total, self time (total minus the part
its child spans cover) and waiting time (the part covered by running
scheduler jobs; for jobs and stages, the time tasks queued), then the
per-layer metrics and the tracing overhead: the traced ops' latency
minus that of the same ops run untraced in the other timed pass.
"""
import collections
import json
import os
import statistics
import sys

JOBS = ("job", "stage")
POINTS = ("qe", "phases", "leaks", "fs")
VERBS = ("insert", "delete_dv", "update", "merge", "checkpoint")
KERNELS = ("functions.dot_i64", "functions.md5_60", "functions.dhash63",
           "plans.distributed_rank", "operators.cc_fixpoint", "operators.pagerank")


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def dur(s):
    return (s["end_us"] - s["start_us"]) / 1e6


def covered(span, intervals):
    """Seconds of `span` covered by the union of `intervals`."""
    lo, hi = span["start_us"], span["end_us"]
    cut = sorted((max(lo, a), min(hi, b)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in cut:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1e6


class Tree:
    def __init__(self, spans):
        self.spans = spans
        self.kids = collections.defaultdict(list)
        for s in spans:
            self.kids[s["parent"]].append(s)

    def below(self, root):
        """Every span under `root`, excluding it."""
        out, todo = [], list(self.kids[root["id"]])
        while todo:
            s = todo.pop()
            out.append(s)
            todo += self.kids[s["id"]]
        return out

    def roots(self, name):
        return [s for s in self.spans if s["parent"] == 0 and s["name"] == name]

    def scope(self, name):
        out = []
        for r in self.roots(name):
            out += [r] + self.below(r)
        return out

    def timed(self):
        """The traced ops of the timed passes: every root span that is
        neither the set-up nor the kernel calls, with its subtree."""
        out = []
        for r in self.spans:
            if r["parent"] == 0 and r["name"] not in ("setup", "kernels"):
                out += [r] + self.below(r)
        return out

    def self_and_wait(self, s):
        kids = [k for k in self.kids[s["id"]] if k["name"] not in POINTS]
        self_s = dur(s) - covered(s, [(k["start_us"], k["end_us"]) for k in kids])
        if s["name"] in JOBS:
            wait = sum(x.get("task_wait_ms", 0) for x in [s] + self.below(s)) / 1e3
        else:
            wait = covered(s, [(k["start_us"], k["end_us"]) for k in self.below(s)
                               if k["name"] == "job"])
        return self_s, wait


def delta_figures(result):
    """Latency medians of the Delta writes and checksum reads, and write
    amplification: bytes the writes created under the table directory
    per byte of data files the inserts created."""
    ops = [o for o in result["ops"] if o["kind"] in ("write", "read")]
    writes = [o["s"] for o in ops if o["kind"] == "write"]
    reads = [o["s"] for o in ops if o["kind"] == "read"]
    if not writes:
        return {"delta.write_p50_s": 0.0, "delta.read_p50_s": 0.0, "delta.write_amp": 0.0}
    return {"delta.write_p50_s": statistics.median(writes),
            "delta.read_p50_s": statistics.median(reads),
            "delta.write_amp": result["bytes_created"] / max(1, result["insert_data_bytes"])}


def derive(spans, result):
    """Every per-layer metric of one traced run."""
    t = Tree(spans)
    p = t.timed()
    setup = t.scope("setup")
    kern = t.scope("kernels")

    def named(scope, name, **attrs):
        return [s for s in scope if s["name"] == name
                and all(s.get(k) == v for k, v in attrs.items())]

    def total(scope, name, **attrs):
        return sum(dur(s) for s in named(scope, name, **attrs))

    def jobs_under(name):
        return sum(1 for s in named(p, name) for k in t.below(s) if k["name"] == "job")

    def attr_sum(scope, names, key):
        return sum(s.get(key, 0) for s in scope if s["name"] in names)

    stages = named(p, "stage")
    traced_wall = sum(dur(s) for s in p if s["parent"] == 0 and s["name"] == "op")
    run_s = attr_sum(stages, ("stage",), "run_ms") / 1e3
    m = {
        "queries.build_s": total(p, "queries.build"),
        "queries.build_jobs": jobs_under("queries.build"),
        "catalyst.analysis_s": attr_sum(p, ("qe", "phases"), "analysis_ms") / 1e3,
        "catalyst.optimizer_s": attr_sum(p, ("qe", "phases"), "optimization_ms") / 1e3,
        "catalyst.planning_s": attr_sum(p, ("qe", "phases"), "planning_ms") / 1e3,
        "action.wall_s": total(p, "action"),
        "action.jobs": jobs_under("action"),
        "sched.jobs": len(named(p, "job")),
        "sched.stages": len(stages),
        "sched.tasks": attr_sum(stages, ("stage",), "tasks"),
        "sched.driver_gap_s": sum(
            dur(o) - covered(o, [(k["start_us"], k["end_us"]) for k in t.below(o)
                                 if k["name"] == "job"]) for o in named(p, "op")),
        "sched.task_wait_s": attr_sum(stages, ("stage",), "task_wait_ms") / 1e3,
        "executor.run_s": run_s,
        "executor.cpu_s": attr_sum(stages, ("stage",), "cpu_ns") / 1e9,
        "executor.gc_s": attr_sum(stages, ("stage",), "gc_ms") / 1e3,
        "executor.busy_ratio": run_s / (traced_wall * result["cores"]) if traced_wall else 0.0,
        "shuffle.write_bytes": attr_sum(stages, ("stage",), "shuffle_write"),
        "shuffle.read_bytes": attr_sum(stages, ("stage",), "shuffle_read"),
        "shuffle.spill_bytes": attr_sum(stages, ("stage",), "spill"),
        "scan.bytes_read": attr_sum(stages, ("stage",), "bytes_read"),
        "scan.rows_read": attr_sum(stages, ("stage",), "rows_read"),
        "plan.exchanges": attr_sum(p, ("qe",), "exchanges"),
        "plan.reused_exchanges": attr_sum(p, ("qe",), "reused_exchanges"),
        "plan.inmemory_scans": attr_sum(p, ("qe",), "inmemory_scans"),
        "cache.leaked": attr_sum(p, ("leaks",), "cache_leaked"),
        "ddl.register_s": total(setup, "ddl.register"),
        "output.format_s": total(p, "output.format"),
        "deltawriter.bytes_created": attr_sum(p, ("fs",), "bytes_created"),
        "deltawriter.files_created": attr_sum(p, ("fs",), "files_created"),
        "deltareader.snapshot_s": total(p, "deltareader.snapshot"),
        "deltareader.dv_decode_s": total(p, "deltareader.dv_decode"),
        "deltareader.load_s": total(p, "deltareader.load"),
    }
    snaps = named(p, "deltareader.snapshot")
    m["deltareader.tail_commits_mean"] = (
        statistics.mean(s["commits_since_checkpoint"] for s in snaps) if snaps else 0.0)
    for kind in ("ddl", "select", "meta"):
        m[f"adtcontext.sql_s.{kind}"] = total(p, "adtcontext.sql", kind=kind)
    m["adtcontext.sql_s.dml"] = sum(total(p, "deltawriter.commit", verb=v)
                                    for v in VERBS if v != "checkpoint")
    for v in VERBS:
        m[f"deltawriter.commit_s.{v}"] = total(p, "deltawriter.commit", verb=v)
    for k in KERNELS:
        m[f"{k}_s"] = total(kern, k)
    m.update(delta_figures(result))
    m.update(overhead(result))
    return m


def overhead(result):
    """Each op of the two timed passes is traced in one of them and
    untraced in the other: the overhead is the traced ops' total latency
    minus the total of their untraced twins."""
    ops = [o for o in result["ops"] if o["kind"] != "kernel"]
    untraced = sum(o["s"] for o in ops if not o["traced"])
    return {"trace.untraced_s": untraced,
            "trace.overhead_s": sum(o["s"] for o in ops if o["traced"]) - untraced}


def report(path):
    spans = load(path)
    t = Tree(spans)
    print(f"== {os.path.basename(path)}")
    for scope, spans_in in (("setup", t.scope("setup")), ("timed ops", t.timed()),
                            ("kernels", t.scope("kernels"))):
        rows = collections.OrderedDict()
        for s in spans_in:
            if s["name"] in POINTS:
                continue
            key = s["name"] + "".join(f"[{s[k]}]" for k in ("kind", "verb", "op_kind") if k in s)
            self_s, wait = t.self_and_wait(s)
            r = rows.setdefault(key, [0, 0.0, 0.0, 0.0])
            r[0] += 1
            r[1] += dur(s)
            r[2] += self_s
            r[3] += wait
        if not rows:
            continue
        print(f"-- {scope}: span, count, total_s, self_s, wait_s")
        for k, (n, tot, slf, w) in sorted(rows.items(), key=lambda kv: -kv[1][1]):
            print(f"   {k:40s} {n:6d} {tot:9.3f} {slf:9.3f} {w:9.3f}")
    res_path = path[:-len(".jsonl")] + ".result.json"
    if os.path.exists(res_path):
        with open(res_path) as f:
            result = json.load(f)
        result.setdefault("ops", [])
        print("-- per-layer metrics")
        for k, v in derive(spans, result).items():
            print(f"   {k:40s} {v:.6g}")
        o = overhead(result)
        u = o["trace.untraced_s"]
        print(f"-- tracing overhead: traced ops {u + o['trace.overhead_s']:.3f} s"
              f" - the same ops untraced {u:.3f} s = {o['trace.overhead_s']:+.3f} s"
              f" ({o['trace.overhead_s'] / u:+.1%})")


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    for a in sys.argv[1:]:
        report(a)
