"""The ``registry_ops`` workload: the TagRegistry API (``api.py``) and the
streaming MERGE sink, driven by the seeded op sequence from ``gen.make_ops``.

The benchmark keeps its own model of every register and of the stream
target. Each op's result is checked against the model after the op's
timed region; the final register and target contents are checked at the
end of the run.
"""

from __future__ import annotations

import datetime as dt
import os
import time

from perfbench import gen
from perfbench.harness import API_OPS, WALL, median, percentile

PAGE = 10
CYCLES = 200
BATCH = 20
READS = ("get_data", "get_data_search", "get_data_after", "find_tag", "sync_rows")
_EPOCH = dt.datetime(1970, 1, 1)


def _merge_docs(a, b):
    """``functions.tags.merge_semicolon_sorted``."""
    parts = {p for s in (a, b) for p in (s or "").split(";") if p.strip()}
    return ";".join(sorted(parts))


def _normalize(v):
    """``functions.tags.null_normalize``."""
    if v is None:
        return None
    t = v.strip()
    return None if t.lower() in ("", "nan", "none", "null") else t


class Model:
    """What every register and the stream target must hold. Rows the API
    stamps with the current time carry ``("now", k)`` as their date, where
    ``k`` counts write ops, so later writes sort first."""

    def __init__(self, registers):
        self.regs = {r: {row["tag_no"]: dict(row) for row in rows} for r, rows in registers.items()}
        self.writes = 0
        self.target: dict[str, tuple] = {}

    def _stamp(self):
        self.writes += 1
        return ("now", self.writes)

    @staticmethod
    def _order(row):
        # modified_date desc (NULL and the epoch last), tag_no desc
        d = row["modified_date"]
        if isinstance(d, tuple):
            return (2, d[1], row["tag_no"])
        return (1 if d is not None else 0, d or _EPOCH, row["tag_no"])

    def ordered(self, register, search=None):
        rows = self.regs[register].values()
        if search:
            rows = [r for r in rows if search.lower() in r["tag_no"].lower()]
        return sorted(rows, key=self._order, reverse=True)

    def upsert(self, register, rows):
        reg, stamp = self.regs[register], self._stamp()
        for i in rows:
            old = reg.get(i["tag_no"])
            if old is None:
                reg[i["tag_no"]] = {**i, "modified_date": stamp}
            else:
                old.update(description=i["description"] if i["description"] is not None else old["description"],
                           document=_merge_docs(old["document"], i["document"]),
                           modified_by=i["modified_by"] if i["modified_by"] is not None else old["modified_by"],
                           modified_date=stamp)

    def import_rows(self, register, rows):
        """Returns the expected count of each report action."""
        valid, actions = [], {"ERROR": 0, "Edit": 0, "Add": 0}
        for r in rows:
            tag, desc = _normalize(r["tagno"]), _normalize(r["description"])
            if tag is None or desc is None:
                actions["ERROR"] += 1
                continue
            actions["Edit" if tag in self.regs[register] else "Add"] += 1
            valid.append({"tag_no": tag, "description": desc, "document": r["document"] or "",
                          "modified_by": r["modified_by"]})
        if valid:
            self.upsert(register, valid)
        return actions

    def delete(self, register, tags):
        reg = self.regs[register]
        return sum(reg.pop(t, None) is not None for t in set(tags))

    def approve(self, register, history):
        """Returns the expected count of each changed disposition."""
        reg, stamp = self.regs[register], self._stamp()
        first = {}
        for h in sorted((h for h in history if h["approval_status"] == "PENDING"),
                        key=lambda h: (h["description"], h["action"])):
            first.setdefault(h["tag_no"], h)
        out = {"edited": 0, "added": 0, "rejected_add": 0, "rejected_edit": 0}
        for row in reg.values():
            if row["document"] is None:
                row["document"] = ""
        for tag, h in first.items():
            exists = tag in reg
            if exists and h["action"] == "Edit":
                out["edited"] += 1
                reg[tag].update(description=h["description"], modified_by="approval", modified_date=stamp)
            elif exists:
                out["rejected_add"] += 1
            elif h["action"] == "Add":
                out["added"] += 1
                reg[tag] = {"tag_no": tag, "description": h["description"], "document": "",
                            "modified_by": "approval", "modified_date": stamp}
            else:
                out["rejected_edit"] += 1
        return out

    def ingest(self, updates):
        for u in updates:
            old = self.target.get(u["tag_no"])
            if old is None or u["seq"] >= old[1]:
                self.target[u["tag_no"]] = (u["description"], u["seq"])


def _same(got_rows, want_rows):
    """Spark rows against model rows: every column, with API-stamped
    dates checked only for being newer than every generated date."""
    if len(got_rows) != len(want_rows):
        return False
    for g, w in zip(got_rows, want_rows):
        for c in ("tag_no", "description", "document", "modified_by"):
            if g[c] != w[c]:
                return False
        d = w["modified_date"]
        if isinstance(d, tuple):
            if g["modified_date"] is None or g["modified_date"].year < 2025:
                return False
        elif g["modified_date"] != d:
            return False
    return True


def _dir_stats(path):
    files = [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]
    return sum(os.path.getsize(f) for f in files), len(files)


def run_registry(run):
    from pyspark.sql import functions as F

    from acuvate_spark.api import TagRegistry
    from acuvate_spark.streaming import merge_sink

    reg_root = os.path.join(run.work, "registers")
    initial = gen.make_registers(reg_root, run.seed, run.register_rows)
    cycles = gen.make_ops(run.seed, initial, CYCLES, BATCH)
    model = Model(initial)
    del initial
    src, target, ckpt = (os.path.join(run.work, d) for d in ("inbox", "ingest", "ingest-ckpt"))
    os.makedirs(src)
    run.start_session()
    spark, tracer = run.spark, run.tracer
    api = TagRegistry(spark, reg_root)
    state = {"cursor": None, "files": 0}
    storage = {"files": [], "per_row": []}
    drains = []

    def check(ok, op, detail=""):
        if not ok:
            run.fail(f"{op['op']}: result differs from the model {detail}")

    def new_version(register, before):
        """Bytes of the version a write op committed."""
        path = api._current_path(register)
        if path == before:
            return 0
        size, files = _dir_stats(path)
        storage["files"].append(files)
        return size

    def call(op):
        kind = op["op"]
        if kind == "get_data":
            return api.get_data(op["register"], page=op["page"], page_size=PAGE).collect()
        if kind == "get_data_search":
            return api.get_data(op["register"], page=op["page"], page_size=PAGE,
                                search=op["search"]).collect()
        if kind == "get_data_after":
            after = state["cursor"] if op["pages"] > 1 else None
            return api.get_data_after(op["register"], PAGE, after=after, search=op["search"]).collect()
        if kind == "find_tag":
            return api.find_tag(op["tag_no"]).collect()
        if kind == "sync_rows":
            return api.sync_rows(op["start"], op["end"]).collect()
        if kind == "upsert_tags":
            api.upsert_tags(op["register"], spark.createDataFrame(
                op["rows"], "tag_no string, description string, document string, modified_by string"))
            return None
        if kind == "import_rows":
            return api.import_rows(op["register"], spark.createDataFrame(
                op["rows"], "tagno string, description string, document string, modified_by string"
            )).groupBy("action").count().collect()
        if kind == "delete_tags":
            return api.delete_tags(op["register"], op["tag_nos"])
        if kind == "apply_approvals":
            hist = spark.createDataFrame(
                op["history"], "tag_no string, description string, action string, approval_status string")
            return api.apply_approvals(op["register"], hist).where(
                F.col("disposition") != "unchanged").groupBy("disposition").count().collect()
        # stream_drain
        stream = spark.readStream.schema("tag_no string, description string, seq long").json(src)
        q = merge_sink.start_merge_stream(stream, target, ckpt, key="tag_no", seq_col="seq")
        q.awaitTermination()
        return q

    def verify(op, got):
        """Check ``got`` against the model and advance the model."""
        kind = op["op"]
        if kind in ("get_data", "get_data_search"):
            rows = model.ordered(op["register"], op.get("search"))
            want = rows[(op["page"] - 1) * PAGE: op["page"] * PAGE]
            check(_same(got, want) and all(r["totalCount"] == len(rows) for r in got), op)
        elif kind == "get_data_after":
            rows = model.ordered(op["register"], op["search"])
            if op["pages"] > 1 and state["cursor"] is not None:
                rows = [r for r in rows if Model._order(r) < state["model_cursor"]]
            want = rows[:PAGE]
            check(_same(got, want), op)
            state["cursor"] = (got[-1]["modified_date"], got[-1]["tag_no"]) if got else None
            state["model_cursor"] = Model._order(want[-1]) if want else None
        elif kind == "find_tag":
            want = [dict(model.regs[r][op["tag_no"]], tag_type=r)
                    for r in gen.REGISTERS if op["tag_no"] in model.regs[r]][:1]
            check(_same(got, want) and all(g["tag_type"] == w["tag_type"] for g, w in zip(got, want)), op)
        elif kind == "sync_rows":
            lo, hi = (dt.datetime.fromisoformat(op[k]) for k in ("start", "end"))
            want = sorted((row["tag_no"], row["description"], r) for r in gen.REGISTERS
                          for row in model.regs[r].values()
                          if isinstance(row["modified_date"], dt.datetime) and lo <= row["modified_date"] <= hi)
            check(sorted((g["tag_no"], g["description"], g["tag_type"]) for g in got) == want, op)
        elif kind == "upsert_tags":
            model.upsert(op["register"], op["rows"])
            return len(op["rows"])
        elif kind == "import_rows":
            want = {k: v for k, v in model.import_rows(op["register"], op["rows"]).items() if v}
            check({r["action"]: r["count"] for r in got} == want, op)
            return sum(v for k, v in want.items() if k != "ERROR")
        elif kind == "delete_tags":
            want = model.delete(op["register"], op["tag_nos"])
            check(got == want, op, f"({got} rows removed, model {want})")
            return want
        elif kind == "apply_approvals":
            want = {k: v for k, v in model.approve(op["register"], op["history"]).items()
                    if v and k != "rejected_edit"}
            check({r["disposition"]: r["count"] for r in got} == want, op)
            return want.get("edited", 0) + want.get("added", 0)
        return 0

    def run_op(op, pass_index):
        run.attempted += 1
        if op["op"] == "stream_drain":
            for rows in op["files"]:
                state["files"] += 1
                gen.write_json_lines(os.path.join(src, f"part-{state['files']:06d}.json"), rows)
        before = api._current_path(op["register"]) if "register" in op else None
        versions = len(os.listdir(target)) if os.path.isdir(target) else 0
        group_of = (lambda q: str(q.runId)) if op["op"] == "stream_drain" else None
        try:
            got, seconds, cpu, span = tracer.call(op["op"], lambda: call(op), group_of=group_of)
        except Exception as e:
            run.fail(f"{op['op']}: raised {type(e).__name__}: {e}")
            return 0.0, 0.0, []
        changed = verify(op, got)
        if op["op"] == "stream_drain":
            rows = sum(len(f) for f in op["files"])
            model.ingest(u for f in op["files"] for u in f)
            drains.append((seconds, rows, len(os.listdir(target)) - versions))
        elif changed:
            written = new_version(op["register"], before)
            storage["per_row"].append(written / changed)
        return seconds, cpu, [span] if span else []

    # untimed warm-up: the first op cycle
    t0 = time.perf_counter()
    for op in cycles[0]:
        run_op(op, -1)
    run.layer["session.warmup_s"] = time.perf_counter() - t0
    tracer.span("warmup", t0, t0 + run.layer["session.warmup_s"], run.trace)
    run.end_setup()
    drains.clear()
    for v in storage.values():
        v.clear()

    passes, elapsed = run.loop(range(len(cycles[0])), lambda i, p: run_op(cycles[1 + p][i], p))
    final_checks(run, spark, api, model, target, merge_sink)

    end_to_end = run.end_to_end(passes, elapsed)
    if run.trace:
        layer = run.layer
        layer.update({k: end_to_end[k] for k in WALL})
        traced = run.traced(passes, len(cycles[0]))
        run.spark_layer(traced)
        by_op = {}
        for p in traced:
            for i, s, _, sps in p:
                op = cycles[0][i]["op"]
                by_op.setdefault(op, []).append((s, sps[0]["jobs"] if sps else 0))
        for op in API_OPS:
            layer[f"api.{op}_ms"] = median([s * 1000 for s, _ in by_op.get(op, [])])
        reads = [x for op in READS for x in by_op.get(op, [])]
        writes = [x for op in API_OPS if op not in READS for x in by_op.get(op, [])]
        for name, xs in (("read", reads), ("write", writes)):
            ms = [s * 1000 for s, _ in xs]
            layer[f"api.{name}_p50_ms"] = percentile(ms, 50)
            layer[f"api.{name}_p90_ms"] = percentile(ms, 90)
            layer[f"api.{name}s"] = len(xs)
            layer[f"api.jobs_per_{name}"] = sum(j for _, j in xs) / max(1, len(xs))
        layer["storage.bytes_written_per_row_changed"] = median(storage["per_row"])
        layer["storage.files_per_version"] = median(storage["files"])
        layer["storage.bytes_per_live_byte"] = storage_ratio(reg_root, api)
        if drains:
            layer["streaming.batches"] = median([b for _, _, b in drains])
            layer["streaming.drain_ms"] = median([s * 1000 for s, _, _ in drains])
            layer["streaming.rows_per_batch"] = sum(r for _, r, _ in drains) / max(1, sum(b for _, _, b in drains))
            layer["streaming.ingest_rows_per_s"] = sum(r for _, r, _ in drains) / sum(s for s, _, _ in drains)
        layer["trace.overhead_pct"] = run.overhead_pct(passes, len(cycles[0]))
        layer["session.jvm_peak_rss_mb"] = tracer.jvm_peak_rss_mb()
        run.dump_spans()
    return end_to_end, run.layer


def storage_ratio(reg_root, api):
    """Bytes on disk under every register against the bytes of the
    versions readers see."""
    total = live = 0
    for r in gen.REGISTERS:
        d = os.path.join(reg_root, r.lower())
        current = api._current_path(r)
        for v in os.listdir(d):
            size, _ = _dir_stats(os.path.join(d, v))
            total += size
            live += size if os.path.join(d, v) == current else 0
    return total / live


def final_checks(run, spark, api, model, target, merge_sink):
    """Final register contents and stream target against the model."""
    for r in gen.REGISTERS:
        got = sorted(api.table(r).collect(), key=lambda row: row["tag_no"])
        want = sorted(model.regs[r].values(), key=lambda row: row["tag_no"])
        if not _same(got, want):
            run.fail(f"register {r}: final contents differ from the model")
    current = merge_sink.read_current(spark, target)
    got = {} if current is None else {r["tag_no"]: (r["description"], r["seq"]) for r in current.collect()}
    if got != model.target:
        run.fail("stream target differs from the model")
