"""Measurement helpers: process-tree CPU and RSS from /proc, Spark event-log
attribution, and per-call timers around the program's public layer
functions."""

from __future__ import annotations

import glob
import json
import os
import re
import threading
import time
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ---------------------------------------------------------------- /proc tree

def _stat(pid: int):
    with open(f"/proc/{pid}/stat") as f:
        s = f.read()
    name = s[s.index("(") + 1 : s.rindex(")")]
    return name, s[s.rindex(")") + 2 :].split()


def _tree(root: int) -> list[tuple[int, str, list[str]]]:
    """(pid, name, stat fields) of every descendant of ``root``."""
    procs, children = {}, defaultdict(list)
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                name, f = _stat(int(p))
            except (OSError, IndexError):
                continue  # exited while listing
            procs[int(p)] = (name, f)
            children[int(f[1])].append(int(p))
    out, stack = [], [root]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append((c, *procs[c]))
            stack.append(c)
    return out


def descendants(root: int) -> list[int]:
    return [pid for pid, _, _ in _tree(root)]


def tree_cpu() -> tuple[float, float]:
    """(JVM CPU-s, Python CPU-s) of this process and all its descendants.
    Python covers this process, the worker daemon and every worker; a
    worker that exited is still counted through its reaping parent's
    children times."""
    jvm = 0.0
    py = sum(os.times()[:2])
    for _, name, f in _tree(os.getpid()):
        own = (int(f[11]) + int(f[12])) / _TICK
        reaped = (int(f[13]) + int(f[14])) / _TICK
        if name == "java":
            jvm += own
            py += reaped
        else:
            py += own + reaped
    return jvm, py


def tree_rss_bytes() -> int:
    """Summed RSS of this process, the JVM and the Python daemon and workers.
    Any other child of the JVM is a short-lived helper (jspawnhelper, chmod)
    that shares the JVM's memory between vfork and exec; counting it would
    count the JVM twice, and one such sample read 7.8 GB instead of 3.2 GB."""
    tree = _tree(os.getpid())
    names = {pid: name for pid, name, _ in tree}
    with open(f"/proc/{os.getpid()}/statm") as f:
        total = int(f.read().split()[1])
    for _, name, f in tree:
        if names.get(int(f[1])) == "java" and not name.startswith("python"):
            continue
        total += int(f[21])
    return total * _PAGE


class PeakRss:
    """Samples the process tree's summed RSS every ``interval`` seconds."""

    def __init__(self, interval: float = 0.25):
        self.peak = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self._interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes())


# ------------------------------------------------------- Spark event log

#: first matching rule names a stage's layer from its RDD operator scopes
#: (``ops``), its plan nodes (``nodes``) and its name. A stage runs several
#: fused operators, so its whole task time goes to the one that dominates it.
STAGE_RULES = (
    ("manifest", lambda ops, nodes, name: "WriteFiles" in ops and "LocalTableScan" in ops),
    ("write", lambda ops, nodes, name: "WriteFiles" in ops),
    ("stats", lambda ops, nodes, name: name.startswith("collect at")),
    ("pdf", lambda ops, nodes, name: "MapInPandas" in ops),
    ("ocr", lambda ops, nodes, name: any("ocr_udf(" in n for n in nodes)),
    ("strip", lambda ops, nodes, name: any("strip_udf(" in n for n in nodes)),
    ("scan_explode", lambda ops, nodes, name: any(o.startswith("Scan ") for o in ops)
        or any(n.startswith("Generate ") for n in nodes)),
    ("join_back", lambda ops, nodes, name: True),
)
LAYERS = tuple(name for name, _ in STAGE_RULES)


def stage_layer(ops: set[str], nodes: set[str], stage_name: str) -> str:
    for layer, rule in STAGE_RULES:
        if rule(ops, nodes, stage_name):
            return layer
    raise AssertionError("the last rule matches every stage")


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _metric_nodes(events: list[dict]) -> dict[int, str]:
    """SQL-metric accumulator id -> the plan node owning it, over every plan
    and adaptive re-plan: a stage's accumulator updates name the plan nodes
    it ran, UDF names included."""
    owner = {}

    def walk(node):
        for m in node.get("metrics", []):
            owner[m["accumulatorId"]] = node.get("simpleString") or node["nodeName"]
        for child in node.get("children", []):
            walk(child)

    for e in events:
        if e["Event"].endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            walk(e["sparkPlanInfo"])
    return owner


def job_metrics(events: list[dict], groups: set[str]) -> dict:
    """Stage metrics of the jobs tagged with one of ``groups``, summed per
    layer and divided by the number of groups (one group per pass)."""
    owner = _metric_nodes(events)
    stage_ops, stage_name, stage_group, stage_nodes = {}, {}, {}, defaultdict(set)
    job_group, job_span = {}, {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            job_group[e["Job ID"]] = g
            job_span[e["Job ID"]] = [e["Submission Time"], None]
            for si in e["Stage Infos"]:
                sid = si["Stage ID"]
                stage_ops.setdefault(sid, {
                    re.sub(r" \(\d+\)$", "", json.loads(r["Scope"])["name"]).strip()
                    for r in si["RDD Info"] if r.get("Scope")
                })
                stage_name.setdefault(sid, si["Stage Name"])
                stage_group.setdefault(sid, g)
        elif e["Event"] == "SparkListenerJobEnd" and e["Job ID"] in job_span:
            job_span[e["Job ID"]][1] = e["Completion Time"]
        elif e["Event"] == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            stage_nodes[si["Stage ID"]].update(
                owner[a["ID"]] for a in si.get("Accumulables", []) if a["ID"] in owner
            )

    def layer_of(sid):
        return stage_layer(stage_ops[sid], stage_nodes[sid], stage_name[sid])

    n = max(1, len(groups))
    task_s = dict.fromkeys(LAYERS, 0.0)
    out = dict(shuffle_write_mb=0.0, shuffle_fetch_wait_s=0.0, gc_s=0.0, failed_tasks=0)
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd" or stage_group.get(e["Stage ID"]) not in groups:
            continue
        m = e.get("Task Metrics") or {}
        task_s[layer_of(e["Stage ID"])] += m.get("Executor Run Time", 0) / 1e3
        out["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 2**20
        out["shuffle_fetch_wait_s"] += (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0) / 1e3
        out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        if (e.get("Task End Reason") or {}).get("Reason") != "Success":
            out["failed_tasks"] += 1
    manifest_s = sum(
        (end - start) / 1e3
        for e in events
        if e["Event"] == "SparkListenerJobStart" and job_group.get(e["Job ID"]) in groups
        and any(layer_of(s) == "manifest" for s in e["Stage IDs"])
        for start, end in [job_span[e["Job ID"]]] if end is not None
    )
    # the manifest write's task time is negligible; its wall is what counts
    metrics = {f"job.{k}.task_s": v / n for k, v in task_s.items() if k != "manifest"}
    metrics["job.manifest.s"] = manifest_s / n
    for k, v in out.items():
        metrics[f"job.{k}"] = v / n
    return metrics


# ------------------------------------------------------- layer timers

def _timed(fn, *args):
    t = time.perf_counter()
    r = fn(*args)
    return r, time.perf_counter() - t


def kernel_layers(pngs: list[bytes]) -> dict:
    """Per-call timings of each OCR kernel layer on ``pngs``, replaying the
    steps of ``kernel.engine.scan_page`` through the public functions, then
    ``recognize()`` itself on the same pages (its caches start cold in this
    process and fill as a worker's would)."""
    import numpy as np

    from ocr_spark.fixtures import CHAR_SPACING
    from ocr_spark.kernel.bitmap import black_mask, extract_matrix
    from ocr_spark.kernel.classify import classify_batch
    from ocr_spark.kernel.engine import recognize
    from ocr_spark.kernel.features import curvature_vector
    from ocr_spark.kernel.segment import (
        Settings,
        find_character_rectangles,
        find_word_rectangles,
        split_words,
    )
    from ocr_spark.pipeline.udfs import default_alphabet
    from ocr_spark.png import decode_gray

    alpha = default_alphabet()
    settings = Settings(character_spacing=CHAR_SPACING)
    t = defaultdict(float)
    seeds = rects = glyphs = 0
    crops, matrices = set(), set()
    grays = []
    for blob in pngs:
        gray, dt = _timed(decode_gray, blob)
        t["decode"] += dt
        grays.append(gray)
        mask = black_mask(gray)
        # a G1 seed is an ink pixel whose upper neighbour is paper, inside
        # the one-pixel frame the segmenter scans
        seeds += int((mask[1:-1, 1:-1] & ~mask[:-2, 1:-1]).sum())
        char_rects, dt = _timed(find_character_rectangles, gray, settings)
        t["g1"] += dt
        rects += len(char_rects)
        word_rects, dt = _timed(find_word_rectangles, char_rects, settings)
        t["g2"] += dt
        words, dt = _timed(split_words, gray, word_rects, settings)
        t["g3_g6"] += dt
        vecs = []
        for word in words:
            for b in word.chars or [word]:
                crops.add((gray[b.y : b.y + b.h, b.x : b.x + b.w].tobytes(), b.w, b.h))
                (matrix, _), dt = _timed(extract_matrix, gray, b.x, b.y, b.w, b.h, alpha.n)
                t["matrix"] += dt
                matrices.add(np.packbits(matrix).tobytes())
                v, dt = _timed(curvature_vector, matrix)
                t["vector"] += dt
                vecs.append(v.reshape(-1))
                glyphs += 1
        if vecs:
            _, dt = _timed(classify_batch, np.stack(vecs), alpha)
            t["classify"] += dt
    t0 = time.perf_counter()
    for gray in grays:
        recognize(gray, settings, alpha)
    t["recognize"] = time.perf_counter() - t0

    pages, g = max(1, len(pngs)), max(1, glyphs)
    return {
        "png.decode_s_per_page": t["decode"] / pages,
        "segment.g1_s_per_page": t["g1"] / pages,
        "segment.g1_seeds_per_page": seeds / pages,
        "segment.g1_rects_per_seed": rects / max(1, seeds),
        "segment.g2_s_per_page": t["g2"] / pages,
        "segment.g3_g6_s_per_page": t["g3_g6"] / pages,
        "bitmap.matrix_s_per_glyph": t["matrix"] / g,
        "features.vector_s_per_glyph": t["vector"] / g,
        "classify.s_per_glyph": t["classify"] / g,
        "engine.glyphs_per_page": glyphs / pages,
        "engine.crop_repeat_frac": 1 - len(crops) / g if glyphs else 0.0,
        "engine.matrix_repeat_frac": 1 - len(matrices) / g if glyphs else 0.0,
        "engine.recognize_s_per_page": t["recognize"] / pages,
    }


def strip_layer(htmls: list[str], batch: int = 1024) -> dict:
    """``strip_html`` over every text span, in Arrow-batch-sized chunks."""
    import pandas as pd

    # the tags the stripper splits blocks at
    from ocr_spark.html.strip import _BLOCK_SPLIT, strip_html

    t = 0.0
    for i in range(0, len(htmls), batch):
        _, dt = _timed(strip_html, pd.Series(htmls[i : i + batch], dtype=object))
        t += dt
    n = max(1, len(htmls))
    mb = sum(len(h.encode()) for h in htmls) / 1e6
    return {
        "strip.s_per_kspan": 1000 * t / n,
        "strip.s_per_mb": t / mb if mb else 0.0,
        "strip.blocks_per_span": sum(len(_BLOCK_SPLIT.findall(h)) for h in htmls) / n,
    }


def pdf_layer(blobs: list[bytes]) -> dict:
    from ocr_spark.pdf import extract_text

    t = sum(_timed(extract_text, b)[1] for b in blobs)
    return {"pdf.extract_s_per_doc": t / len(blobs) if blobs else 0.0}
