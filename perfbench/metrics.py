"""Metrics of one run, computed from the artifact the JVM side wrote.

End-to-end metrics (untraced runs) are what BENCHMARK.json gates; the
workload-specific metrics the benchmark also reports are in `detail`.
Per-layer metrics (traced runs) come from the spans and the Spark
counters attributed to them. Definitions: perfbench/README.md.
"""
import math
import statistics

LAYERS = ["sources", "query.engine", "query.paginator", "query.search",
          "query.inspect", "exporters", "operators.snapshot", "operators.dedup"]
COUNTERS = ["plan_ms", "jobs", "stages", "tasks", "task_cpu_ms", "task_run_ms",
            "gc_ms", "input_bytes", "input_records", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "output_bytes", "driver_gap_ms"]
OP_PREFIXES = tuple(l + "." for l in LAYERS)
PAGE_KINDS = ("sorted", "next", "keyset")


def is_op(s):
    return s["name"].startswith(OP_PREFIXES)


def first_page_or_other(s):
    """Every span but the page calls after a cycle's first page."""
    return s["name"] != "query.paginator.page" or "first" in s["attrs"]


def paged(s):
    """A sorted, next or keyset page over an open result."""
    return any(k in s["attrs"] for k in PAGE_KINDS)


def layer_of(name):
    return max((l for l in LAYERS if name.startswith(l + ".")), key=len)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile); None when there are fewer than 11 samples."""
    n = len(xs)
    if n < 11:
        return None
    ys = sorted(xs)
    k = n - 11  # index with exactly ten samples above it
    return ys[k], round(100.0 * (k + 1) / n, 1)


def ratio(num, den):
    return num / den if den else 0.0


class Run:
    def __init__(self, art):
        self.art = art
        spans = art["spans"]
        w = art["warm_spans"]
        self.measured = spans[w:]
        self.ops = [s for s in self.measured if is_op(s)]
        self.cycles = [s for s in self.measured if s["name"] == "cycle"]

    def named(self, name, pred=lambda s: True):
        return [s for s in self.ops if s["name"] == name and pred(s)]

    def per_cycle(self, names, pred=lambda s: True):
        """Sum of the named op spans' times within each cycle that has any."""
        sums = {}
        for s in self.ops:
            if s["name"] in names and pred(s):
                sums[s["unit"]] = sums.get(s["unit"], 0.0) + s["ms"]
        return list(sums.values())

    def cycle_ms(self):
        sums = {c["unit"]: 0.0 for c in self.cycles}
        for s in self.ops:
            if s["unit"] in sums:
                sums[s["unit"]] += s["ms"]
        return list(sums.values())

    def first_page(self):
        """Open (and query) until the first page's rows are in hand."""
        return self.per_cycle({"sources.open", "query.engine.query",
                               "query.paginator.page"}, first_page_or_other)

    def pages(self):
        return [s["ms"] for s in self.named("query.paginator.page", paged)]

    def workload(self):
        return self.art["workload"]

    def reads(self):
        if self.workload() == "viz_session":
            return self.per_cycle({"query.paginator.page"}, paged)
        return self.per_cycle({"operators.snapshot.prune", "operators.snapshot.scan",
                               "sources.open", "query.paginator.page"}, first_page_or_other)

    def writes(self):
        if self.workload() == "viz_session":
            return self.per_cycle({"exporters.csv", "exporters.parquet"})
        # a commit: upsert plus the stats step that follows it
        return [sum(s["ms"] for s in group) for group in self._commits()]

    def _commits(self):
        out = []
        for s in self.ops:
            if s["name"] == "operators.snapshot.upsert":
                out.append([s])
            elif s["name"] == "operators.snapshot.stats" and out and \
                    out[-1][-1]["name"] == "operators.snapshot.upsert" and \
                    out[-1][-1]["unit"] == s["unit"]:
                out[-1].append(s)
        return out

    def failures(self):
        ops = [s for s in self.art["spans"] if is_op(s)]
        return len(ops), sum(1 for s in ops if not s["ok"])


def end_to_end(art, setup_s):
    r = Run(art)
    return {
        "setup_s": (setup_s, "s"),
        "live_mb": (median(art["probed_bytes"]) / 1048576.0, "MB"),
        "cycle_p50_ms": (median(r.cycle_ms()), "ms"),
        "first_page_p50_ms": (median(r.first_page()), "ms"),
        "read_p50_ms": (median(r.reads()), "ms"),
        "write_p50_ms": (median(r.writes()), "ms"),
    }


def detail(art):
    """The workload's own end-to-end metrics, by the names the design uses."""
    r = Run(art)
    attempted, failed = r.failures()
    out = {"op_failed_frac": (ratio(failed, attempted), "frac")}
    if r.workload() == "viz_session":
        pages = r.pages()
        t = tail(pages)
        out.update({
            "session_p50_s": (median(r.cycle_ms()) / 1000.0, "s"),
            "first_page_p50_ms": (median(r.first_page()), "ms"),
            "page_p50_ms": (median(pages), "ms"),
            "deep_page_p50_ms": (median([s["ms"] for s in r.named(
                "query.paginator.page", lambda s: "deep" in s["attrs"])]), "ms"),
            "search_p50_ms": (median([s["ms"] for s in r.named("query.search.page")]), "ms"),
            "export_p50_ms": (median(r.writes()), "ms"),
        })
        if t:
            out["page_tail_ms"] = (t[0], "ms")
            out["page_tail_percentile"] = (t[1], "%")
    else:
        commits = r.writes()
        t = tail(commits)
        docs = sum(s["attrs"].get("docs", 0) for s in r.measured if s["name"] == "corpus.batch")
        ingest_ms = sum(s["ms"] for s in r.ops if s["name"] in
                        ("operators.dedup.exact", "operators.dedup.near"))
        out.update({
            "commit_p50_ms": (median(commits), "ms"),
            "read_p50_ms": (median(r.reads()), "ms"),
            "write_amp": (ratio(*ratios(art)["write_amp"]), "ratio"),
            "ingest_docs_per_s": (ratio(docs, ingest_ms / 1000.0), "1/s"),
        })
        if t:
            out["commit_tail_ms"] = (t[0], "ms")
            out["commit_tail_percentile"] = (t[1], "%")
    return out


def self_times(art):
    """Per-layer self time: each span's duration minus what its child
    spans cover, summed by layer (group spans under their own name)."""
    r = Run(art)
    child = {}
    for s in r.measured:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["ms"]
    out = {}
    for s in r.measured:
        key = layer_of(s["name"]) if is_op(s) else s["name"]
        calls, ms = out.get(key, (0, 0.0))
        out[key] = (calls + 1, ms + max(0.0, s["ms"] - child.get(s["id"], 0.0)))
    return out


def ratios(art):
    """Every per-layer ratio metric as (numerator, base); the value is
    their quotient (0 when the base is 0). write_amp is the end-to-end
    ratio of lake_corpus, listed so the reducer shows its base too."""
    r = Run(art)
    attr = lambda spans, k: sum(s["attrs"].get(k, 0) for s in spans)
    ctr = lambda spans, k: sum(s["ctr"].get(k, 0) for s in spans)
    pages = r.named("query.paginator.page")
    hits = [s for s in pages if s["attrs"].get("cache_loaded") == 1
            and s["ctr"].get("file_scan_queries", 0) == 0]
    searches = r.named("query.search.page")
    exports = r.named("exporters.csv") + r.named("exporters.parquet")
    upserts = r.named("operators.snapshot.upsert")
    stats = r.named("operators.snapshot.stats")
    prunes = r.named("operators.snapshot.prune")
    written = [s for s in r.ops if s["name"] in
               ("operators.snapshot.upsert", "operators.snapshot.compact")]
    lake = [s for s in r.measured if s["name"] == "lake.cycle"]
    near = r.named("operators.dedup.near")
    return {
        "query.cache.hit_frac": (len(hits), len(pages)),
        "query.paginator.jobs_per_page": (ctr(pages, "jobs"), len(pages)),
        "query.paginator.rows_examined_per_row": (ctr(pages, "input_records"), attr(pages, "rows")),
        "query.search.selectivity": (attr(searches, "matched"), attr(searches, "searched_over")),
        "exporters.bytes_written": (attr(exports, "bytes_written"), len(exports)),
        "operators.snapshot.stats_footers_scanned": (attr(stats, "footers_scanned"), len(stats)),
        "operators.snapshot.files_rewritten": (attr(upserts, "files_rewritten"), len(upserts)),
        "operators.snapshot.prune_kept_frac": (attr(prunes, "files_kept"), attr(prunes, "files_total")),
        "operators.snapshot.space_amp": (attr(lake, "disk_bytes"), attr(lake, "live_bytes")),
        "operators.dedup.near_pairs": (attr(near, "pairs"), len(near)),
        "write_amp": (attr(written, "bytes_written"), attr(upserts, "change_bytes")),
    }


def per_layer(art):
    r = Run(art)
    med = lambda name: median([s["ms"] for s in r.named(name)]) if r.named(name) else 0.0
    ctr = lambda spans, k: sum(s["ctr"].get(k, 0) for s in spans)
    pages = r.named("query.paginator.page")
    lake = [s for s in r.measured if s["name"] == "lake.cycle"]
    batches = [s for s in r.measured if s["name"] == "corpus.batch"]
    cache_bytes = [s["attrs"]["cache_bytes"] for s in pages if "cache_bytes" in s["attrs"]]
    m = {
        "sources.open_ms": med("sources.open"),
        "query.engine.query_ms": med("query.engine.query"),
        "query.cache.bytes": median(cache_bytes) if cache_bytes else 0.0,
        "query.paginator.page_ms": med("query.paginator.page"),
        "query.paginator.count_ms": med("query.paginator.count"),
        "query.search.ms": med("query.search.page"),
        "query.inspect.schema_ms": med("query.inspect.schema"),
        "query.inspect.metadata_ms": med("query.inspect.metadata"),
        "exporters.csv_ms": med("exporters.csv"),
        "exporters.parquet_ms": med("exporters.parquet"),
        "operators.snapshot.upsert_ms": med("operators.snapshot.upsert"),
        "operators.snapshot.stats_ms": med("operators.snapshot.stats"),
        "operators.snapshot.compact_ms": med("operators.snapshot.compact"),
        "operators.snapshot.prune_ms": med("operators.snapshot.prune"),
        "operators.snapshot.files_live": median([s["attrs"]["files_live"] for s in lake]) if lake else 0.0,
        "operators.dedup.exact_ms": med("operators.dedup.exact"),
        "operators.dedup.near_ms": med("operators.dedup.near"),
        "operators.dedup.store_files": median([s["attrs"]["store_files"] for s in batches]) if batches else 0.0,
        "operators.dedup.late_early_ratio": late_early(r),
    }
    m.update({k: ratio(num, base) for k, (num, base) in ratios(art).items() if k != "write_amp"})
    for layer in LAYERS:
        spans = [s for s in r.ops if layer_of(s["name"]) == layer]
        for k in COUNTERS:
            m[f"spark.{layer}.{k}"] = ratio(ctr(spans, k), len(spans))
    return m


def late_early(r):
    """Mean batch ingest time (exact + near) of the last third of the
    first round's batches over the first third's."""
    times = {}
    for s in r.ops:
        if s["name"] in ("operators.dedup.exact", "operators.dedup.near"):
            times[s["unit"]] = times.get(s["unit"], 0.0) + s["ms"]
    order = [(s["attrs"]["batch"], times.get(s["unit"], 0.0)) for s in r.measured
             if s["name"] == "corpus.batch" and s["attrs"].get("round") == 0]
    order.sort()
    n = len(order) // 3
    if n == 0:
        return 0.0
    early = statistics.mean(t for _, t in order[:n])
    late = statistics.mean(t for _, t in order[-n:])
    return ratio(late, early)


def finite(v):
    return v if isinstance(v, (int, float)) and math.isfinite(v) else 0.0
