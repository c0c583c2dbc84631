"""Traced runs: spans around calls into ``dedup.*`` and a per-layer fold of
Spark's event log.

Spans are installed from outside by replacing the names where the program
looks them up (``dedup.pipeline.verify_pairs``, the module attributes of
``dedup.operators.containment``, ``CheckpointCatalog.write`` ...). Each span
records its wall time and sets a Spark job group named by its path
(``stage:verified_pairs/verify``), so every job, task and SQL metric in the
event log can be folded back onto the span that launched it. A span only
times and labels: it launches no Spark action. Counts that the program
commits are read back from its tables with pyarrow after the traced unit;
counts it does not commit come from SQL metrics in the event log (rows into
a Python UDF, rows out of a checkpoint).

The kernel timings run in this process after the traced unit, on inputs
rebuilt from the committed tables.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import random
import re
import statistics
import threading
import time
from collections import defaultdict

import pandas as pd

import checks
from host import dir_bytes

# span names by layer; a layer's wall time is the summed duration of its
# outermost spans
LAYER_SPANS = {
    "verify": {"stage:verified_pairs", "verify"},
    "containment": {"stage:containment_pairs"},
    "prepare": {"stage:prepared", "prepare"},
    "candidates": {"stage:candidate_pairs", "candidates"},
    "assemble": {"stage:assembled", "assemble"},
    "exact": {"stage:exact_groups"},
    "cluster": {"stage:clusters"},
    "incremental": {"incremental"},
}

# Python UDFs by the name of their function inside dedup.functions /
# dedup.operators, as Spark prints them in ArrowEvalPython nodes
UDF_LAYER = {
    "_gated": "verify",
    "_ccv": "verify",
    "_wbh": "containment",
    "_norm": "prepare",
    "_sketch": "prepare",
}

PER_LAYER = [
    "verify.wall_s", "verify.pairs_in", "verify.dp_in", "verify.accepted",
    "verify.dp_accept_ratio", "verify.python_s", "verify.python_init_s",
    "verify.tasks", "verify.shuffle_mb",
    "containment.wall_s", "containment.pairs_in", "containment.lcs_in",
    "containment.lcs_accepted", "containment.lcs_accept_ratio",
    "containment.python_s", "containment.python_init_s", "containment.tasks",
    "containment.ledger_s",
    "prepare.wall_s", "prepare.python_s", "prepare.docs",
    "candidates.wall_s", "candidates.pairs", "candidates.skew_groups",
    "candidates.shuffle_mb",
    "assemble.wall_s", "assemble.shuffle_mb", "exact.wall_s", "exact.groups",
    "cluster.wall_s", "cluster.edges", "cluster.components",
    "catalog.write_s", "catalog.commit_s", "catalog.files", "catalog.mb",
    "match.idf_s", "match.topk_s", "match.features_s", "match.gram_join_rows",
    "match.dp_pairs", "match.accepted",
    "incremental.wall_s", "incremental.postings_hit", "incremental.pairs",
    "incremental.verified",
    "streaming.state_write_s", "streaming.trigger_overhead_s", "streaming.state_mb",
    "kernel.lev_us_per_pair", "kernel.title_lev_us_per_pair", "kernel.lcs_us_per_pair",
    "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_write_mb", "spark.spill_mb",
    "spark.tasks", "spark.task_skew", "spark.jobs",
    "trace.items_per_s",
]

UNITS = {"items_per_s": "1/s", "_us_per_pair": "us", "_s": "s", "mb": "MB",
         "_ratio": "ratio", "task_skew": "ratio"}

KERNEL_PAIRS = 200  # pairs per kernel timing


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


class Tracer:
    def __init__(self, spark, workload):
        self.sc = spark.sparkContext
        self.spark = spark
        self.wl = workload
        self.local = threading.local()
        self.spans: list[tuple[str, float, float]] = []
        self.commits: list[dict] = []
        self.originals: dict = {}
        self.window = None
        self.counts: dict = {}
        self.kernels: dict = {}

    # -- spans ----------------------------------------------------------
    def _span(self, name: str, fn, *a, **kw):
        stack = self.local.__dict__.setdefault("stack", [])
        keys = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
        prev = [self.sc.getLocalProperty(k) for k in keys]
        path = "/".join([*stack, name])
        stack.append(name)
        self.sc.setJobGroup(path, path)
        t0 = time.time()
        try:
            return fn(*a, **kw)
        finally:
            self.spans.append((path, t0, time.time()))
            stack.pop()
            for k, v in zip(keys, prev):
                self.sc.setLocalProperty(k, v)

    def _patch(self, owner, attr: str, name) -> None:
        orig = getattr(owner, attr)
        self.originals[(owner, attr)] = orig
        label = name if callable(name) else (lambda a, kw: name)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            return self._span(label(a, kw), orig, *a, **kw)

        setattr(owner, attr, wrapper)

    def install(self) -> None:
        import dedup.incremental
        import dedup.operators.containment as containment
        import dedup.operators.match as match
        import dedup.pipeline as pipeline
        import dedup.streaming as streaming
        from dedup.catalog import CheckpointCatalog

        self._patch(CheckpointCatalog, "write_or_resume", lambda a, kw: f"stage:{a[1]}")
        orig_write = CheckpointCatalog.write

        def write(cat, name, *a, **kw):
            res = orig_write(cat, name, *a, **kw)
            self.commits.append({"table": name, **res.breakdown})
            return res

        CheckpointCatalog.write = write
        self._patch(CheckpointCatalog, "write", lambda a, kw: f"write:{a[1]}")
        self.originals[(CheckpointCatalog, "write")] = orig_write
        for attr, name in (
            ("assemble_conversations", "assemble"),
            ("prepare_docs", "prepare"),
            ("exact_duplicate_groups", "exact"),
            ("candidate_pairs", "candidates"),
            ("verify_pairs", "verify"),
            ("connected_components", "cluster"),
        ):
            self._patch(pipeline, attr, name)
        self._patch(containment, "containment_candidates", "containment_candidates")
        self._patch(containment, "verify_containment", "containment_verify")
        self._patch(streaming, "incremental_dedup", "incremental")
        for attr, name in (
            ("assemble_conversations", "assemble"),
            ("prepare_docs", "prepare"),
            ("candidate_pairs", "candidates"),
            ("verify_pairs", "verify"),
        ):
            self._patch(dedup.incremental, attr, name)
        self._patch(match, "truth_idf", "idf")
        self._patch(match, "jaccard_topk_candidates", "topk")
        self._patch(match, "cascade_pair_features", "features")

    def uninstall(self) -> None:
        for (owner, attr), orig in self.originals.items():
            setattr(owner, attr, orig)
        self.originals.clear()

    # -- units ----------------------------------------------------------
    def begin_unit(self, i: int) -> None:
        if i == 0:
            self.window = [time.time(), None]

    def end_unit(self, i: int) -> None:
        """Close the traced unit (the first), then read back its committed
        counts and time the kernels -- all outside the unit's window."""
        if i != 0:
            return
        self.window[1] = time.time()
        self.uninstall()
        reader = {
            "batch_pipeline": self._batch_counts,
            "append_stream": self._stream_counts,
            "title_match": self._title_counts,
        }[self.wl.name]
        reader()

    def _batch_counts(self) -> None:
        wh, cfg = self.wl.wh, self.wl.config

        def manifest_rows(table: str) -> int:
            with open(os.path.join(wh, table, "_MANIFEST.json")) as fh:
                return json.load(fh)["rows"]

        verified = checks.read_table(os.path.join(wh, "verified_pairs"))
        contain = checks.read_table(os.path.join(wh, "containment_pairs"))
        groups = checks.read_table(os.path.join(wh, "exact_groups"), ["group_size"])
        clusters = checks.read_table(os.path.join(wh, "clusters"))
        prepared = checks.read_table(os.path.join(wh, "prepared"), ["doc_id", "norm_text"])
        cands = checks.read_table(os.path.join(wh, "candidate_pairs"), ["id_a", "id_b"])
        multi = groups[groups.group_size > 1]
        self.counts.update(
            {
                "verify.pairs_in": manifest_rows("candidate_pairs"),
                "verify.accepted": int((verified.tier == "levenshtein").sum()),
                "containment.lcs_accepted": int(contain.lcs_ratio.notna().sum()),
                "prepare.docs": manifest_rows("prepared"),
                "candidates.pairs": manifest_rows("candidate_pairs"),
                "candidates.skew_groups": manifest_rows("band_skew"),
                "exact.groups": len(multi),
                "cluster.edges": len(verified) + len(contain) + int((multi.group_size - 1).sum()),
                "cluster.components": int(clusters.cluster_id.nunique()),
                "catalog.files": sum(len(f) for _d, _s, f in os.walk(wh)),
                "catalog.mb": dir_bytes(wh) / 2**20,
            }
        )
        # containment candidates are never committed: count them again from
        # the committed representatives, after the unit
        from dedup.operators.containment import containment_candidates
        from dedup.operators.exact import representatives
        from dedup.tracking import drain

        tracker = []
        reps = representatives(
            self.spark.read.parquet(os.path.join(wh, "prepared")),
            self.spark.read.parquet(os.path.join(wh, "exact_groups")),
            "doc_id",
        )
        self.counts["containment.pairs_in"] = containment_candidates(
            reps, cfg, tracker=tracker
        ).pairs.count()
        drain(tracker)

        text = dict(zip(prepared.doc_id, prepared.norm_text))
        pairs = list(zip(cands.id_a, cands.id_b))
        edges = list(zip(verified.id_a, verified.id_b)) + list(zip(contain.id_a, contain.id_b))
        self._time_kernels(text, pairs, edges)

    def _stream_counts(self) -> None:
        wl = self.wl
        k = wl.pos
        state = lambda t: os.path.join(wl.wh, t, f"batch={k}")  # noqa: E731
        bands = checks.read_batches(os.path.join(wl.wh, "corpus_bands"), ["band_hash"])
        new_keys = set(bands.band_hash[bands.batch == k])
        edges = checks.read_table(state("stream_edges"))
        prepared = checks.read_batches(
            os.path.join(wl.wh, "corpus_prepared"), ["doc_id", "norm_text"]
        )
        latest = prepared.sort_values("batch").groupby("doc_id").norm_text.last()
        self.counts.update(
            {
                "incremental.postings_hit": int(
                    ((bands.batch < k) & bands.band_hash.isin(new_keys)).sum()
                ),
                "incremental.verified": len(edges),
                "verify.accepted": int((edges.tier == "levenshtein").sum()),
                "prepare.docs": len(checks.read_table(state("corpus_prepared"), ["doc_id"])),
                "candidates.skew_groups": len(checks.read_table(state("stream_skew"))),
                "streaming.state_mb": dir_bytes(wl.wh) / 2**20,
            }
        )
        text = latest.to_dict()
        pairs = list(zip(edges.id_a, edges.id_b))
        self._time_kernels(text, pairs, pairs)

    def _title_counts(self) -> None:
        (part,) = glob.glob(os.path.join(self.wl.out, "part-*.csv"))
        preds = pd.read_csv(part, sep="|")
        self.counts["match.accepted"] = int((preds.title_id != -1).sum())
        truth = checks.read_table(os.path.join(self.wl.inputs, "truth.parquet"))
        queries = checks.read_table(os.path.join(self.wl.inputs, "queries.parquet"))
        rng = random.Random(0)
        titles = dict(zip(truth.title_id, truth.title))
        ids = list(titles)
        # each query against its expected title (when it has one) and
        # random others: the mix of near and far pairs the title DP sees
        pairs = []
        for q, exp in zip(queries.title, queries.expected_title_id):
            if exp != -1:
                pairs.append((q, titles[exp]))
            pairs.append((q, titles[rng.choice(ids)]))
        self.kernels["kernel.title_lev_us_per_pair"] = _time_pairs(
            _lev_kernel, pairs[:KERNEL_PAIRS]
        )

    def _time_kernels(self, text: dict, lev_pairs: list, lcs_pairs: list) -> None:
        from dedup.operators.containment import lcs_substring_len

        rng = random.Random(0)
        lev = [(text[a], text[b]) for a, b in lev_pairs if a in text and b in text]
        lcs = [
            tuple(sorted((text[a], text[b]), key=len))
            for a, b in lcs_pairs
            if a in text and b in text
        ]
        rng.shuffle(lev)
        self.kernels["kernel.lev_us_per_pair"] = _time_pairs(_lev_kernel, lev[:KERNEL_PAIRS])
        self.kernels["kernel.lcs_us_per_pair"] = _time_pairs(
            lcs_substring_len, lcs[:KERNEL_PAIRS]
        )

    # -- fold -------------------------------------------------------------
    def finish(self, events_dir: str, unit_items: float) -> dict:
        """Fold the event log of the finished (stopped) session into the
        per-layer metrics of the traced unit."""
        log = fold_event_log(events_dir, *self.window)
        m = dict.fromkeys(PER_LAYER, 0.0)
        m.update(self.counts)
        m.update(self.kernels)
        wall = self.window[1] - self.window[0]
        m["trace.items_per_s"] = unit_items / wall
        spans = [(p, t0, t1) for p, t0, t1 in self.spans if t0 >= self.window[0] and t1 <= self.window[1]]
        walls = layer_walls(spans)
        for layer, w in walls.items():
            m[f"{layer}.wall_s"] = w
        groups = log["groups"]

        def layer_groups(layer):
            names = LAYER_SPANS[layer]
            return [g for g in groups if names & set(g.split("/"))]

        def sum_groups(layer, key):
            return sum(groups[g][key] for g in layer_groups(layer))

        for layer in ("verify", "containment"):
            m[f"{layer}.tasks"] = sum_groups(layer, "tasks")
        for layer in ("verify", "candidates", "assemble"):
            m[f"{layer}.shuffle_mb"] = sum_groups(layer, "shuffle_write_bytes") / 2**20
        udf = log["udfs"]
        lcs_udf = "_ratio" if self.wl.name == "batch_pipeline" else None
        for name, stats in udf.items():
            layer = UDF_LAYER.get(name) or ("containment" if name == lcs_udf else None)
            if self.wl.name == "title_match":
                layer = None  # title normalization is part of match.features_s
            if layer in ("verify", "containment", "prepare"):
                m[f"{layer}.python_s"] += stats["run_s"]
                if layer != "prepare":
                    m[f"{layer}.python_init_s"] += stats["init_s"]
        m["verify.dp_in"] = udf.get("_gated", {}).get("rows", 0)
        if self.wl.name == "batch_pipeline":
            m["containment.lcs_in"] = udf.get("_ratio", {}).get("rows", 0)
        if self.wl.name == "title_match":
            m["match.dp_pairs"] = udf.get("_ratio", {}).get("rows", 0)
            m["match.gram_join_rows"] = max(
                (e["max_join_rows"] for g, e in log["execs"].items() if "features" in e["group"].split("/")),
                default=0,
            )
            self_times = span_self_times(spans)
            m["match.idf_s"] = self_times.get("idf", 0.0)
            m["match.topk_s"] = self_times.get("topk", 0.0)
            m["match.features_s"] = self_times.get("features", 0.0)
        m["verify.dp_accept_ratio"] = m["verify.accepted"] / m["verify.dp_in"] if m["verify.dp_in"] else 0.0
        m["containment.lcs_accept_ratio"] = (
            m["containment.lcs_accepted"] / m["containment.lcs_in"] if m["containment.lcs_in"] else 0.0
        )
        writes = [(p, t1 - t0) for p, t0, t1 in spans if p.split("/")[-1].startswith("write:")]
        m["catalog.write_s"] = sum(d for _p, d in writes)
        m["catalog.commit_s"] = sum(c.get("footer", 0) + c.get("commit", 0) for c in self.commits)
        m["containment.ledger_s"] = sum(
            d for p, d in writes if p.endswith(("write:window_band_skew", "write:containment_capped"))
        )
        if self.wl.name == "append_stream":
            incr = [e for e in log["execs"].values() if e["group"] == "incremental"]
            last = max(incr, key=lambda e: e["time"], default=None)
            m["incremental.pairs"] = last["root_rows"] if last else 0
            m["verify.pairs_in"] = m["candidates.pairs"] = m["incremental.pairs"]
            m["streaming.state_write_s"] = sum(
                j["end"] - j["start"]
                for j in log["jobs"]
                if j["output_bytes"] > 0 and not j["group"].startswith("incremental")
            )
            m["streaming.trigger_overhead_s"] = wall - covered(log["jobs"])
        eng = log["engine"]
        m.update(
            {
                "spark.executor_cpu_s": eng["cpu_s"],
                "spark.gc_s": eng["gc_s"],
                "spark.shuffle_write_mb": eng["shuffle_write_bytes"] / 2**20,
                "spark.spill_mb": eng["spill_bytes"] / 2**20,
                "spark.tasks": eng["tasks"],
                "spark.task_skew": eng["task_skew"],
                "spark.jobs": len(log["jobs"]),
            }
        )
        self.detail = {
            "spans": [
                {"span": p, "s": round(t1 - t0, 4)} for p, t0, t1 in sorted(spans, key=lambda s: s[1])
            ],
            "groups": {g: {k: round(v, 4) for k, v in e.items()} for g, e in groups.items()},
            "udfs": udf,
            "commits": self.commits,
        }
        return {k: {"value": float(v), "unit": unit_of(k)} for k, v in m.items()}


def _lev_kernel(a: str, b: str) -> int:
    from dedup.functions.similarity import levenshtein_ratio_py

    return levenshtein_ratio_py(a, b)


def _time_pairs(fn, pairs: list) -> float:
    """Microseconds per pair, serial on the driver; 0 when there are none."""
    if not pairs:
        return 0.0
    t0 = time.perf_counter()
    for a, b in pairs:
        fn(a, b)
    return (time.perf_counter() - t0) / len(pairs) * 1e6


def layer_walls(spans) -> dict:
    """Summed duration of each layer's outermost spans."""
    out = defaultdict(float)
    for path, t0, t1 in spans:
        parts = path.split("/")
        for layer, names in LAYER_SPANS.items():
            if parts[-1] in names and not names & set(parts[:-1]):
                out[layer] += t1 - t0
    return out


def span_self_times(spans) -> dict:
    """Span name -> duration minus the time its direct child spans cover."""
    out = defaultdict(float)
    for path, t0, t1 in spans:
        child = sum(
            c1 - c0
            for p, c0, c1 in spans
            if p.startswith(path + "/") and p.count("/") == path.count("/") + 1
        )
        out[path.split("/")[-1]] += (t1 - t0) - child
    return out


def covered(jobs) -> float:
    """Wall seconds covered by at least one job."""
    total, end = 0.0, None
    for j in sorted(jobs, key=lambda j: j["start"]):
        s, e = j["start"], j["end"]
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def _walk(node, out):
    out.append(node)
    for c in node.get("children", []):
        _walk(c, out)
    return out


UDF_NAME = re.compile(r"\b(_\w+)\(")


def fold_event_log(events_dir: str, t0: float, t1: float) -> dict:
    """Fold every job submitted in [t0, t1] into per-job-group engine
    metrics, per-UDF Python metrics and per-SQL-execution row counts."""
    files = sorted(glob.glob(os.path.join(events_dir, "eventlog_v2_*", "events_*")))
    groups = defaultdict(lambda: defaultdict(float))
    udfs = defaultdict(lambda: defaultdict(float))
    jobs_out, execs_out = [], {}
    eng = defaultdict(float)
    stage_tasks = defaultdict(list)
    for f in files:  # one file per session; ids restart in each
        acc_info, acc_sum = {}, defaultdict(float)
        job_start, stage_job, exec_meta = {}, {}, {}
        job_out = defaultdict(float)
        task_ends = []
        with open(f) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    t = e["Submission Time"] / 1000
                    props = e.get("Properties") or {}
                    job_start[e["Job ID"]] = {
                        "start": t,
                        "group": props.get("spark.jobGroup.id") or "",
                    }
                    for s in e["Stage IDs"]:
                        stage_job[s] = e["Job ID"]
                elif ev == "SparkListenerJobEnd":
                    if e["Job ID"] in job_start:
                        job_start[e["Job ID"]]["end"] = e["Completion Time"] / 1000
                elif ev.endswith("SQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
                    xid = e["executionId"]
                    meta = exec_meta.setdefault(
                        xid, {"time": e.get("time", 0) / 1000, "group": e.get("jobGroupId") or ""}
                    )
                    nodes = _walk(e["sparkPlanInfo"], [])
                    meta["root"] = None
                    meta["joins"] = []
                    for n in nodes:
                        for met in n["metrics"]:
                            acc_info[met["accumulatorId"]] = (xid, n["nodeName"], n["simpleString"], met["name"], met["metricType"])
                            if met["name"] == "number of output rows":
                                if meta["root"] is None:
                                    meta["root"] = met["accumulatorId"]
                                if "Join" in n["nodeName"]:
                                    meta["joins"].append(met["accumulatorId"])
                elif ev == "SparkListenerTaskEnd":
                    task_ends.append(e)
                elif ev.endswith("SparkListenerDriverAccumUpdates"):
                    for acc, v in e["accumUpdates"]:
                        acc_sum[acc] += float(v)
        for e in task_ends:
            job = stage_job.get(e["Stage ID"])
            js = job_start.get(job)
            if js is None or not t0 <= js["start"] <= t1:
                continue
            tm, ti = e.get("Task Metrics") or {}, e["Task Info"]
            g = groups[js["group"]]
            cpu = (tm.get("Executor CPU Time", 0) + tm.get("Executor Deserialize CPU Time", 0)) / 1e9
            shuffle = (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            spill = tm.get("Disk Bytes Spilled", 0)
            g["tasks"] += 1
            g["cpu_s"] += cpu
            g["shuffle_write_bytes"] += shuffle
            eng["tasks"] += 1
            eng["cpu_s"] += cpu
            eng["gc_s"] += tm.get("JVM GC Time", 0) / 1000
            eng["shuffle_write_bytes"] += shuffle
            eng["spill_bytes"] += spill
            job_out[job] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
            stage_tasks[(f, e["Stage ID"])].append(ti["Finish Time"] - ti["Launch Time"])
            for a in ti.get("Accumulables", []):
                try:
                    acc_sum[a["ID"]] += float(a["Update"])
                except (KeyError, TypeError, ValueError):
                    pass
        for job, js in job_start.items():
            if t0 <= js["start"] <= t1 and "end" in js:
                jobs_out.append({**js, "output_bytes": job_out[job]})
        for acc, total in acc_sum.items():
            info = acc_info.get(acc)
            if info is None or "EvalPython" not in info[1]:
                continue
            xid, _node, simple, metric, mtype = info
            if not t0 <= exec_meta[xid]["time"] <= t1:
                continue
            scale = {"nsTiming": 1e-9, "timing": 1e-3}.get(mtype, 1.0)
            key = {
                "number of output rows": "rows",
                "time to run Python workers": "run_s",
                "time to initialize Python workers": "init_s",
                "time to start Python workers": "init_s",
                "data sent to Python workers": "sent_bytes",
            }.get(metric)
            if key is None:
                continue
            names = set(UDF_NAME.findall(simple.split("], [")[0]))
            for name in names:  # rows are shared, times split evenly
                udfs[name][key] += total * scale / (1 if key == "rows" else len(names))
        for xid, meta in exec_meta.items():
            if t0 <= meta["time"] <= t1:
                execs_out[f"{f}:{xid}"] = {
                    "group": meta["group"],
                    "time": meta["time"],
                    "root_rows": acc_sum.get(meta["root"], 0),
                    "max_join_rows": max((acc_sum.get(a, 0) for a in meta["joins"]), default=0),
                }
    skews = [
        max(d) / statistics.median(d)
        for d in stage_tasks.values()
        if len(d) >= 4 and statistics.median(d) > 0
    ]
    eng["task_skew"] = max(skews, default=0.0)
    return {
        "groups": {g: dict(v) for g, v in groups.items()},
        "udfs": {k: dict(v) for k, v in udfs.items()},
        "jobs": jobs_out,
        "execs": execs_out,
        "engine": dict(eng),
    }
