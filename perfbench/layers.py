"""Per-layer report of a traced run.

Inputs: the driver's spans, the workers' span trees, the Spark event log,
the run loop's op records and the workers' peak RSS from ``probes``. A span's self time is its duration minus the
durations of its direct children.

Kernel metrics (``codecs.*``, ``selector.*``, ``stripe.*``, ``bloom.build``)
are per stripe, over every traced stripe of the run, set-up included: a
lookup run encodes its table in set-up, an ingest run decodes each table
in its check. Per-op metrics (``pipeline.*``, ``ops.*``, ``layers.*``) are
averaged over the timed traced ops only. A metric whose work the workload
never does reads 0; ``NOT_EXERCISED`` gives the reason.

``layers.*`` split each op's wall time. ``layers.driver_s`` is the time
the driver ran with no Spark job active. The time with tasks running is
split by each layer's share of the task time: the Python self time of
codecs, selector, stripe and bloom, and the rest (JVM scan, shuffle, sort,
commit writes and the JVM-Python Arrow boundary) as
``layers.jvm_boundary_s``. ``layers.accounted_frac`` is the sum of all of
these over the op wall time; what is missing is time inside a job while no
task ran (scheduling gaps).
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from perfbench import eventlog
from perfbench.spans import layer_of

ENC_COLUMNS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")
KERNEL_LAYERS = ("codecs", "selector", "stripe", "bloom")
OPS = ("decode_subset", "exact_dedup", "quality_metrics", "token_counts",
       "minhash_signatures")

PER_LAYER = [
    ("codecs.fsst.build_table_ms", "ms"),
    ("codecs.rle_v2.encode_ms", "ms"),
    ("codecs.deflate.compress_ms", "ms"),
    ("codecs.strings.encode_dict_ms", "ms"),
    ("codecs.fsst.decode_ms", "ms"),
    ("codecs.rle_v2.decode_ms", "ms"),
    ("codecs.deflate.decompress_ms", "ms"),
    ("codecs.strings.decode_ms", "ms"),
    ("selector.encode_strings.self_ms", "ms"),
    ("selector.encode_ints.ms", "ms"),
    ("selector.zlib_kept_frac", "frac"),
    ("selector.fsst_trial_kept_frac", "frac"),
    ("selector.int_candidates_per_column", "count"),
    ("stripe.encode.self_ms", "ms"),
    ("stripe.rows_to_batch_ms", "ms"),
    ("stripe.decode.self_ms", "ms"),
    ("stripe.stripes_per_op", "count"),
    *[(f"stripe.enc_bytes.{c}", "bytes") for c in ENC_COLUMNS],
    ("bloom.build_ms", "ms"),
    ("bloom.probe_ms", "ms"),
    ("bloom.false_pos_frac", "frac"),
    ("pipeline.stripes_decoded_per_lookup", "count"),
    ("pipeline.jobs_per_op", "count"),
    ("pipeline.stages_per_op", "count"),
    ("pipeline.tasks_per_op", "count"),
    ("pipeline.shuffle_write_bytes", "bytes"),
    ("pipeline.shuffle_read_bytes", "bytes"),
    ("pipeline.spill_bytes", "bytes"),
    ("pipeline.task_run_s", "s"),
    ("pipeline.task_cpu_s", "s"),
    ("pipeline.gc_s", "s"),
    ("pipeline.task_wait_s", "s"),
    ("pipeline.encode_task_skew", "ratio"),
    ("pipeline.arrow_boundary_s", "s"),
    ("pipeline.plan_ms", "ms"),
    ("pipeline.commit_s", "s"),
    ("pipeline.files_written", "count"),
    ("pipeline.disk_bytes_per_enc_byte", "ratio"),
    *[(f"ops.{o}_s", "s") for o in OPS],
    ("worker_peak_rss_mb", "MB"),
    ("session.start_s", "s"),
    ("setup.input_s", "s"),
    ("setup.preencode_s", "s"),
    ("layers.driver_s", "s"),
    *[(f"layers.{lay}_s", "s") for lay in KERNEL_LAYERS],
    ("layers.jvm_boundary_s", "s"),
    ("layers.accounted_frac", "frac"),
    ("trace.overhead_frac", "frac"),
]

# metrics only a lookup run has; the benchmark's other workloads never
# probe a bloom filter
LOOKUP_ONLY = ("bloom.probe_ms", "bloom.false_pos_frac",
               "pipeline.stripes_decoded_per_lookup")


def per_layer(workload: str) -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric a traced run of
    ``workload`` prints."""
    return [(name, unit) for name, unit in PER_LAYER
            if workload == "lookup" or name not in LOOKUP_ONLY]


NOT_EXERCISED = {
    "ingest": [f"ops.{o}_s" for o in OPS],
    "scan": [f"ops.{o}_s" for o in OPS],
    "curate": [],
    "lookup": [f"ops.{o}_s" for o in OPS],
}


class _Trees:
    """Worker span trees flattened to per-name totals."""

    def __init__(self, trees: list[dict]) -> None:
        self.incl = defaultdict(int)     # name -> summed duration, ns
        self.self_ = defaultdict(int)    # name -> summed self time, ns
        self.calls = defaultdict(int)
        self.child_calls = defaultdict(int)  # (parent, child) -> calls
        self.by_op = defaultdict(lambda: defaultdict(int))  # op -> name -> n
        self.layer_self_by_op = defaultdict(lambda: defaultdict(int))
        self.task_kernel_ns = defaultdict(int)  # task id -> top-level ns
        self.kernel_stages = set()
        self.encode_stages = set()
        self.zlib_kept = 0
        self.fsst_chosen = 0
        self.enc_bytes = defaultdict(list)
        self.probes_by_op = defaultdict(lambda: [0, 0])  # op -> [n, hits]
        for tree in trees:
            self._add(tree)

    def _add(self, tree: dict) -> None:
        spans = tree["spans"]
        op = tree["op"]
        child_ns = [0] * len(spans)
        for name, t0, t1, parent, _ in spans:
            if parent >= 0:
                child_ns[parent] += t1 - t0
        self.kernel_stages.add(tree["stage"])
        for i, (name, t0, t1, parent, attrs) in enumerate(spans):
            dur = t1 - t0
            self.incl[name] += dur
            self.self_[name] += dur - child_ns[i]
            self.calls[name] += 1
            self.by_op[op][name] += 1
            self.layer_self_by_op[op][layer_of(name)] += dur - child_ns[i]
            if parent >= 0:
                self.child_calls[(spans[parent][0], name)] += 1
            else:
                self.task_kernel_ns[tree["task"]] += dur
            if name == "stripe.encode_stripe_arrow":
                self.encode_stages.add(tree["stage"])
                for col, n in attrs["enc"].items():
                    self.enc_bytes[col].append(n)
            elif name == "selector.maybe_zlib":
                self.zlib_kept += attrs["kept"]
            elif name == "selector.encode_strings":
                self.fsst_chosen += attrs["codec"] == "str_fsst"
            elif name == "bloom.might_contain_many":
                self.probes_by_op[op][0] += attrs["n"]
                self.probes_by_op[op][1] += attrs["hits"]


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def report(workload: str, driver_spans: list[list], epoch_offset_ns: int,
           trees: list[dict], log: eventlog.EventLog, ops: list[dict],
           timings: dict, tables: list[tuple],
           worker_rss_mb: float) -> dict[str, float]:
    """Every PER_LAYER metric by name. ``ops`` are the run loop's records:
    label, traced, seconds, epoch start/end in ms, attrs."""
    w = _Trees(trees)
    m: dict[str, float] = {}
    n_enc = w.calls["stripe.encode_stripe_arrow"]
    n_dec = w.calls["stripe.decode_stripe_arrow"]

    def per_enc(ns: float) -> float:
        return _ratio(ns / 1e6, n_enc)

    def per_dec(ns: float) -> float:
        return _ratio(ns / 1e6, n_dec)

    m["codecs.fsst.build_table_ms"] = per_enc(w.incl["codecs.fsst.build_table"])
    m["codecs.rle_v2.encode_ms"] = per_enc(w.incl["codecs.rle_v2.encode"])
    m["codecs.deflate.compress_ms"] = per_enc(w.incl["codecs.deflate.compress"])
    m["codecs.strings.encode_dict_ms"] = per_enc(
        w.incl["codecs.strings.encode_dict"])
    m["codecs.fsst.decode_ms"] = per_dec(w.incl["codecs.fsst.decode"])
    m["codecs.rle_v2.decode_ms"] = per_dec(w.incl["codecs.rle_v2.decode"])
    m["codecs.deflate.decompress_ms"] = per_dec(
        w.incl["codecs.deflate.decompress"])
    m["codecs.strings.decode_ms"] = per_dec(
        w.incl["codecs.strings.decode_direct"]
        + w.incl["codecs.strings.decode_dict"])
    m["selector.encode_strings.self_ms"] = per_enc(
        w.self_["selector.encode_strings"])
    m["selector.encode_ints.ms"] = per_enc(w.incl["selector.encode_ints"])
    m["selector.zlib_kept_frac"] = _ratio(w.zlib_kept,
                                          w.calls["selector.maybe_zlib"])
    m["selector.fsst_trial_kept_frac"] = _ratio(
        w.fsst_chosen, w.calls["codecs.fsst.build_table"])
    m["selector.int_candidates_per_column"] = _ratio(
        w.child_calls[("selector.encode_ints", "codecs.rle_v2.encode")],
        w.calls["selector.encode_ints"])
    m["stripe.encode.self_ms"] = per_enc(
        w.self_["stripe.encode_stripe_arrow"] + w.self_["stripe.encode_column"])
    m["stripe.rows_to_batch_ms"] = per_enc(
        w.incl["stripe.stripe_rows_to_batch"])
    m["stripe.decode.self_ms"] = per_dec(w.self_["stripe.decode_stripe_arrow"])
    for col in ENC_COLUMNS:
        m[f"stripe.enc_bytes.{col}"] = _mean(w.enc_bytes[col])
    m["bloom.build_ms"] = per_enc(w.incl["bloom.build"])

    timed = [o for o in ops if o["traced"]]
    labels = [o["label"] for o in timed]
    n_ops = len(timed)

    def per_op(values) -> float:
        return _ratio(sum(values), n_ops)

    m["stripe.stripes_per_op"] = per_op(
        w.by_op[op]["stripe.encode_stripe_arrow"]
        + w.by_op[op]["stripe.decode_stripe_arrow"] for op in labels)
    probe_ms = defaultdict(float)
    for tree in trees:
        if tree["op"] not in labels:
            continue
        for name, t0, t1, _, _ in tree["spans"]:
            if name == "bloom.might_contain_many":
                probe_ms[tree["op"]] += (t1 - t0) / 1e6
    m["bloom.probe_ms"] = per_op(probe_ms[op] for op in labels)
    fp = neg = 0
    for o in timed:
        if "true_stripes" in o["attrs"]:
            n, hits = w.probes_by_op[o["label"]]
            true = o["attrs"]["true_stripes"]
            fp += hits - true
            neg += n - true
    m["bloom.false_pos_frac"] = _ratio(fp, neg)
    m["pipeline.stripes_decoded_per_lookup"] = (
        per_op(w.by_op[op]["stripe.decode_stripe_arrow"] for op in labels)
        if workload == "lookup" else 0.0)

    _pipeline_metrics(m, w, log, timed, per_op)
    _commit_metrics(m, w, driver_spans, epoch_offset_ns, log)
    m["pipeline.files_written"] = _mean(t[0] for t in tables)
    m["pipeline.disk_bytes_per_enc_byte"] = _mean(t[1] / t[2] for t in tables)

    op_spans = defaultdict(float)
    for name, t0, t1, _, _ in driver_spans:
        if name.startswith("ops.") and t1:
            op_spans[name] += (t1 - t0) / 1e9
    for o in OPS:
        m[f"ops.{o}_s"] = _ratio(op_spans[f"ops.{o}"], n_ops)

    m["worker_peak_rss_mb"] = worker_rss_mb
    m["session.start_s"] = timings.get("session_s", 0.0)
    m["setup.input_s"] = timings.get("input_s", 0.0)
    m["setup.preencode_s"] = timings.get("preencode_s", 0.0)

    _wall_split(m, w, log, timed)
    plain = [o["seconds"] for o in ops if not o["traced"]]
    traced = [o["seconds"] for o in timed]
    m["trace.overhead_frac"] = (
        statistics.median(traced) / statistics.median(plain) - 1.0
        if plain and traced else 0.0)
    return m


def _pipeline_metrics(m, w: _Trees, log: eventlog.EventLog, timed, per_op):
    jobs, stages, tasks = [], [], []
    arrow_boundary_s = 0.0
    plan_ms = []
    for o in timed:
        op_jobs = log.ops_jobs(o["label"])
        op_stages = log.ops_stages(o["label"])
        jobs.append(len(op_jobs))
        stages.extend(op_stages)
        for st in op_stages:
            tasks.extend(st.tasks)
            if st.stage_id in w.kernel_stages:
                for t in st.tasks:
                    arrow_boundary_s += max(
                        t.run_ms / 1e3 - w.task_kernel_ns[t.task_id] / 1e9, 0.0)
        busy = eventlog.union_ms([(j.submitted_ms, j.completed_ms)
                                  for j in op_jobs])
        plan_ms.append(o["end_ms"] - o["start_ms"] - busy)
    m["pipeline.jobs_per_op"] = per_op(jobs)
    m["pipeline.stages_per_op"] = per_op([len(stages)])
    m["pipeline.tasks_per_op"] = per_op([len(tasks)])
    m["pipeline.shuffle_write_bytes"] = per_op(t.shuffle_write for t in tasks)
    m["pipeline.shuffle_read_bytes"] = per_op(t.shuffle_read for t in tasks)
    m["pipeline.spill_bytes"] = per_op(t.spill for t in tasks)
    m["pipeline.task_run_s"] = per_op(t.run_ms / 1e3 for t in tasks)
    m["pipeline.task_cpu_s"] = per_op(t.cpu_ns / 1e9 for t in tasks)
    m["pipeline.gc_s"] = per_op(t.gc_ms / 1e3 for t in tasks)
    m["pipeline.task_wait_s"] = per_op(
        (t.launch_ms - st.submitted_ms) / 1e3 for st in stages
        for t in st.tasks)
    m["pipeline.arrow_boundary_s"] = per_op([arrow_boundary_s])
    m["pipeline.plan_ms"] = _mean(plan_ms)
    skews = []
    for sid in w.encode_stages:
        st = log.stages.get(sid)
        if st is not None and st.tasks:
            runs = [t.run_ms for t in st.tasks]
            skews.append(_ratio(max(runs), statistics.fmean(runs)))
    m["pipeline.encode_task_skew"] = _mean(skews)


def _commit_metrics(m, w: _Trees, driver_spans, epoch_offset_ns,
                    log: eventlog.EventLog) -> None:
    """commit() time after the job that ran the encode kernel and wrote
    the stripes: the manifest and lineage writes and their driver work."""
    kernel_end = sorted(j.completed_ms for j in log.jobs.values()
                        if w.encode_stages & set(j.stage_ids))
    commits = []
    for name, t0, t1, _, _ in driver_spans:
        if name != "pipeline.commit" or not t1:
            continue
        s_ms = (t0 + epoch_offset_ns) / 1e6
        e_ms = (t1 + epoch_offset_ns) / 1e6
        ends = [t for t in kernel_end if s_ms <= t <= e_ms]
        if ends:
            commits.append((e_ms - ends[-1]) / 1e3)
    m["pipeline.commit_s"] = _mean(commits)


def _wall_split(m, w: _Trees, log: eventlog.EventLog, timed) -> None:
    parts = defaultdict(list)
    for o in timed:
        wall = (o["end_ms"] - o["start_ms"]) / 1e3
        op_jobs = log.ops_jobs(o["label"])
        tasks = [t for st in log.ops_stages(o["label"]) for t in st.tasks]
        in_jobs = eventlog.union_ms([(j.submitted_ms, j.completed_ms)
                                     for j in op_jobs]) / 1e3
        busy = eventlog.union_ms([(t.launch_ms, t.finish_ms)
                                  for t in tasks]) / 1e3
        task_s = sum(t.finish_ms - t.launch_ms for t in tasks) / 1e3
        layer_core = {lay: w.layer_self_by_op[o["label"]][lay] / 1e9
                      for lay in KERNEL_LAYERS}
        driver = wall - in_jobs
        parts["driver_s"].append(driver)
        for lay, core in layer_core.items():
            parts[f"{lay}_s"].append(busy * _ratio(core, task_s))
        parts["jvm_boundary_s"].append(
            busy * _ratio(max(task_s - sum(layer_core.values()), 0.0),
                          task_s))
        parts["accounted_frac"].append(_ratio(driver + busy, wall))
    for key in ("driver_s", *[f"{lay}_s" for lay in KERNEL_LAYERS],
                "jvm_boundary_s", "accounted_frac"):
        m[f"layers.{key}"] = _mean(parts[key])
