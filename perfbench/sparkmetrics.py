"""Spark-layer metrics from Spark's own monitoring REST API.

Used by the traced run only (the UI is off otherwise). Stages are mapped
to layers by the plan operators of the SQL execution that ran them:

* spark.scan        — input read by every stage of the job's writes;
                      task time of the stages that read input and run
                      no Python operator.
* spark.media_exchange — the Exchange under MapInPandas (the span salt).
* spark.udf         — the MapInPandas stage: its UDF tasks (the tasks
                      that read no table input), plus the operator's own
                      Python-side timings (start, initialize, run).
* spark.reassemble  — the Exchange over the branch Union; task time of
                      the stage that aggregates and writes.
* spark.write       — bytes written; task time of the writing stage.
                      Reassembly and write share one stage, so both
                      report that stage's task time.
"""

from __future__ import annotations

import json
import re
import statistics
import urllib.request

_STAGE_RE = re.compile(r"\(stage (\d+)\.\d+")
_SIZE = {"B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10, "TiB": 2**20}
_TIME = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}


def metric_value(text: str) -> float:
    """First quantity of a SQL metric string, in ms or MB for times and
    sizes ('total (min, med, max ...)\\n309.6 KiB (...)' -> 0.302)."""
    line = text.split("\n")[-1] if "\n" in text else text
    num, _, unit = line.strip().partition(" ")
    unit = unit.split(" ")[0]
    value = float(num.replace(",", ""))
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME:
        return value * _TIME[unit]
    return value


class RestProbe:
    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.first_exec = 0

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def mark(self) -> None:
        """Only SQL executions started after this call are counted."""
        execs = self._get("sql?length=100000")
        self.first_exec = 1 + max((e["id"] for e in execs), default=-1)

    def layers(self, passes: list[dict], cores: int) -> dict[str, float]:
        """Per-pass means of every Spark, checkpoint and host metric."""
        n = max(1, len(passes))
        execs = [
            e for e in self._get("sql?details=true&planDescription=false&length=100000")
            if e["id"] >= self.first_exec
        ]
        job_stages = {j["jobId"]: j["stageIds"] for j in self._get("jobs")}
        stages = {
            s["stageId"]: s for s in self._get("stages") if s["status"] == "COMPLETE"
        }
        acc = {
            "spark.scan.input_mb": 0.0, "spark.scan.records": 0.0, "spark.scan.task_ms": 0.0,
            "spark.media_exchange.shuffle_write_mb": 0.0,
            "spark.media_exchange.fetch_wait_ms": 0.0,
            "spark.udf.tasks": 0.0, "spark.udf.task_ms": 0.0,
            "spark.udf.worker_start_ms": 0.0, "spark.udf.worker_init_ms": 0.0,
            "spark.udf.python_run_ms": 0.0, "spark.udf.arrow_in_mb": 0.0,
            "spark.reassemble.shuffle_write_mb": 0.0,
            "spark.reassemble.fetch_wait_ms": 0.0, "spark.reassemble.task_ms": 0.0,
            "spark.write.output_mb": 0.0, "spark.write.task_ms": 0.0,
            "checkpoint.actions": float(len(execs)),
            "checkpoint.action_ms": float(sum(e["duration"] for e in execs)),
        }
        udf_task_ms: list[float] = []
        run_ms_total = 0.0
        for e in execs:
            sids = {
                s for j in e.get("successJobIds", []) for s in job_stages.get(j, [])
                if s in stages
            }
            run_ms_total += sum(stages[s]["executorRunTime"] for s in sids)
            nodes = {nd["nodeId"]: nd for nd in e["nodes"]}
            if not any(nd["nodeName"] == "WriteFiles" for nd in nodes.values()):
                continue  # the checkpoint's stats query: counted as an action only
            parent = {ed["fromId"]: ed["toId"] for ed in e["edges"]}
            children: dict[int, list[int]] = {}
            for c, p in parent.items():
                children.setdefault(p, []).append(c)

            def metrics(nd) -> dict[str, str]:
                return {m["name"]: m["value"] for m in nd.get("metrics", [])}

            udf_sids: set[int] = set()
            for nid, nd in nodes.items():
                name = nd["nodeName"]
                m = metrics(nd)
                if name == "MapInPandas":
                    for v in m.values():
                        udf_sids.update(int(x) for x in _STAGE_RE.findall(v))
                    for key, metric in (
                        ("worker_start_ms", "time to start Python workers"),
                        ("worker_init_ms", "time to initialize Python workers"),
                        ("python_run_ms", "time to run Python workers"),
                        ("arrow_in_mb", "data sent to Python workers"),
                    ):
                        if metric in m:
                            acc[f"spark.udf.{key}"] += metric_value(m[metric])
                elif name == "Exchange":
                    layer = None
                    if nodes.get(parent.get(nid), {}).get("nodeName") == "MapInPandas":
                        layer = "spark.media_exchange"
                    elif any(nodes[c]["nodeName"] == "Union" for c in children.get(nid, [])):
                        layer = "spark.reassemble"
                    if layer:
                        acc[f"{layer}.shuffle_write_mb"] += metric_value(
                            m.get("shuffle bytes written", "0 B"))
                        acc[f"{layer}.fetch_wait_ms"] += metric_value(
                            m.get("fetch wait time", "0 ms"))
            for sid in sids:
                st = stages[sid]
                acc["spark.scan.input_mb"] += st["inputBytes"] / 2**20
                acc["spark.scan.records"] += st["inputRecords"]
                if st["inputBytes"] > 0 and sid not in udf_sids:
                    acc["spark.scan.task_ms"] += st["executorRunTime"]
                if st["outputBytes"] > 0:
                    acc["spark.write.output_mb"] += st["outputBytes"] / 2**20
                    acc["spark.write.task_ms"] += st["executorRunTime"]
                    acc["spark.reassemble.task_ms"] += st["executorRunTime"]
            for sid in udf_sids & sids:
                st = stages[sid]
                tasks = self._get(
                    f"stages/{sid}/{st['attemptId']}/taskList?length=100000"
                )
                for t in tasks:
                    tm = t.get("taskMetrics") or {}
                    if (tm.get("inputMetrics") or {}).get("recordsRead", 0) == 0:
                        udf_task_ms.append(float(tm.get("executorRunTime", 0)))
        acc["spark.udf.tasks"] = float(len(udf_task_ms))
        acc["spark.udf.task_ms"] = float(sum(udf_task_ms))
        out = {k: v / n for k, v in acc.items()}
        out["spark.udf.task_p50_ms"] = statistics.median(udf_task_ms) if udf_task_ms else 0.0
        out["spark.udf.task_max_ms"] = max(udf_task_ms, default=0.0)
        wall_ms = sum(p["wall_s"] for p in passes) * 1000
        out["checkpoint.driver_ms"] = (wall_ms - acc["checkpoint.action_ms"]) / n
        out["checkpoint.manifest_commits"] = sum(p["manifest_commits"] for p in passes) / n
        out["checkpoint.buckets_resumed"] = sum(p["buckets_resumed"] for p in passes) / n
        out["host.busy_share"] = run_ms_total / (wall_ms * cores) if wall_ms else 0.0
        out["host.steal_share"] = statistics.mean(p["steal_share"] for p in passes)
        return out
