"""pdfspark benchmark: one command, one workload, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> \
        --seconds <s> --trace <0|1>

Run it from the repository root. The engine runs at ``local[nproc]``
inside this single driver process. Workloads (see BENCHMARK.json):

* ``spans_to_corpus`` — a batch job on the freshly set-up session: a
  wave of seeded pre-decoded parquet (table-heavy, multi-page, a
  skewed doc, planted exact and near duplicates) through header_footer
  -> extract_documents_split -> extract_tables_exact +
  merge_continued_tables -> section text -> curate_documents ->
  commit_append, then read back with read_committed(...).count(). A
  batch job pays the cold start of its session every time it runs, so
  the wave is timed cold; on a 4-vCPU host it fills the measured
  window, and more waves follow only while they fit before the
  deadline.
* ``stream_append`` — a long-running drain loop, closed, one client:
  each wave of PDF payloads lands in an inbox, is drained by
  ``extract_job --stream-payloads`` (availableNow, snapshot output,
  lineage metrics) and read back with read_committed(...).count();
  compact_snapshots runs every few waves. Wave 0 is an untimed
  warm-up; at least three timed waves follow, more while they fit
  before the deadline.

Every wave is followed by reader counts (``READS``); ``read_p50_s`` is
the median over waves of each wave's median read. Before the clock
starts the JVM and the driver run a full GC, so memory left over from
set-up or warm-up does not count.

Each run first builds a Spark session on a fresh JVM twice (session
build plus a first trivial job with one Python task); ``setup_s`` is
their median. The last session then runs the workload for
``--seconds``. Inputs come from ``gen.py`` and are written before a
wave's clock starts. Every committed output is checked against
Spark-free oracles (``oracles.py``) after the clock stops.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced waves; traced waves force each layer's output in
pipeline order and read that layer's Spark metrics (``profiler.py``).
It prints the per-layer metrics, including the tracing overhead.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. Progress goes to
standard error. Scratch files live under ``.perfbench_work/`` in the
checkout and are removed on exit.
"""
from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from collections import Counter
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

COMPACT_EVERY = 4   # stream_append: compact_snapshots every K waves
# waves per run whatever the deadline, untraced and traced runs.
# spans_to_corpus: the cold batch wave; a traced run adds a warm-up
# wave, a traced wave and an untraced one to compare it with.
# stream_append: an untimed warm-up wave, then three timed waves (the
# second traced in a traced run).
MIN_WAVES = {"spans_to_corpus": (1, 4), "stream_append": (4, 4)}
SETUPS = 2          # cold session builds per run; setup_s is the median
# reader counts after each wave; traced runs, which report only the
# mean read, make TRACED_READS
READS = {"spans_to_corpus": 25, "stream_append": 4}
TRACED_READS = 3


class Bench:
    """State of one benchmark run: scratch dir, session, tracer."""

    def __init__(self, args):
        self.args = args
        self.nproc = len(os.sched_getaffinity(0))
        self.work = os.path.join(ROOT, ".perfbench_work",
                                 f"{args.workload}-{args.seed}-{os.getpid()}")
        self.spark = None
        self.tracer = None
        self.failed = 0
        self.attempted = 0

    # -- session -----------------------------------------------------------

    def conf(self) -> dict:
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        return {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # no hsperfdata files in the system temp directory
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                "-XX:-UsePerfData",
        }

    def cold_session(self, master: str) -> tuple[float, float]:
        """Build the session (launching a JVM unless one is up) and run
        one trivial job with a Python task, so the worker daemon and a
        worker are up. Returns (build seconds, build + job seconds)."""
        from pdfspark.session import build_session

        t0 = time.perf_counter()
        self.spark = build_session(master=master, extra_conf=self.conf())
        t1 = time.perf_counter()
        self.spark.sparkContext.parallelize([0], 1).map(lambda x: x).count()
        return t1 - t0, time.perf_counter() - t0

    def shutdown(self) -> None:
        """Stop the session, end the JVM and wait for every process this
        run started (JVM, Python worker daemon, workers) to exit."""
        from pyspark import SparkContext

        from procmon import alive, tree_pids

        started = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                # the gateway server exits when its stdin closes
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        # the worker daemon and its workers outlive the JVM briefly and
        # are re-parented when it exits: wait on the pids seen before
        deadline = time.time() + 60
        while left := alive(started):
            if time.time() > deadline:
                for p in left:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except OSError:
                        pass
            time.sleep(0.1)

    def setup(self) -> dict:
        builds, totals = [], []
        for i in range(SETUPS):
            if i:
                self.shutdown()
            b, t = self.cold_session(f"local[{self.nproc}]")
            builds.append(b)
            totals.append(t)
        return dict(setup_s=statistics.median(totals),
                    build_s=statistics.median(builds))

    # -- helpers -------------------------------------------------------------

    def span(self, layer: str):
        return self.tracer.span(layer) if self.tracer else nullcontext()

    def force(self, layer: str, build):
        """Call a layer; traced waves also materialise its output, both
        inside the layer's span."""
        if self.tracer is None:
            return build()
        with self.tracer.span(layer):
            return build().localCheckpoint(eager=True)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) at the highest rank that leaves at least ten
    samples beyond it, never below the median."""
    v = sorted(values)
    n = len(v)
    i = max(n - 11, (n - 1) // 2)
    pct = 100.0 * i / (n - 1) if n > 1 else 50.0
    if i == (n - 1) // 2:
        return statistics.median(v), 50.0
    return v[i], pct


def _dir_bytes(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def _snapshot_dir_stats(out: str, snap: str | None) -> tuple[int, int]:
    """Data files and bytes of one committed snapshot (rename protocol:
    <out>/<snap>/)."""
    if snap is None:
        return 0, 0
    return _dir_bytes(os.path.join(out, snap))


# ---------------------------------------------------------------------------
# spans_to_corpus
# ---------------------------------------------------------------------------

def _section_text_col():
    from pyspark.sql import functions as F

    return F.array_join(F.flatten(F.transform(
        "sections",
        lambda s: F.concat(F.array(s["heading"]), s["paragraphs"]))), "\n")


def corpus_wave(b: Bench, root: str, out: str, tables_out: str) -> dict:
    """One spans_to_corpus wave: the pipeline from the wave's parquet to
    a committed corpus snapshot, with the merged tables committed as an
    aux table under the same id. Returns the snapshot id and the frames
    the traced run counts."""
    from pyspark.sql import functions as F

    from pdfspark.operators.boilerplate import header_footer
    from pdfspark.operators.extract import extract_documents_split
    from pdfspark.operators.tables import (
        extract_tables_exact,
        merge_continued_tables,
    )
    from pdfspark.operators.textstats import curate_documents
    from pdfspark.sinks.snapshot import commit_append

    import gen

    spark = b.spark
    docs = spark.read.parquet(os.path.join(root, "documents_in.parquet"))
    geom = spark.read.parquet(os.path.join(root, "spans_geom.parquet"))
    hf = b.force("boilerplate", lambda: header_footer(geom))
    full = b.force("fold", lambda: extract_documents_split(
        docs, hf, skew_threshold=gen.SKEW_THRESHOLD,
        spans_per_chunk=gen.SPANS_PER_CHUNK))
    tables = b.force("tables", lambda: merge_continued_tables(
        extract_tables_exact(geom, hf)))
    text = (full.filter(F.col("status") == "ok")
            .select("doc_id", _section_text_col().alias("text"))
            .filter(F.col("text") != ""))
    corpus = b.force("curate", lambda: curate_documents(text))
    with b.span("snapshot.commit"):
        snap = commit_append(corpus, out, aux=[(tables, tables_out)])
    return dict(snap=snap, text=text, tables=tables, corpus=corpus)


def run_corpus(b: Bench, seconds: float, trace: bool) -> dict:
    import gen
    import oracles
    from pdfspark.sinks.snapshot import read_committed

    out = os.path.join(b.work, "corpus")
    tables_out = os.path.join(b.work, "tables")
    waves, layer_waves = [], []
    sampler, t_end = _start_clock(b, seconds)
    w, longest = 0, 0.0
    while w < _min_waves(b) or time.perf_counter() + longest < t_end:
        root = os.path.join(b.work, f"wave{w:03d}")
        g = gen.corpus_wave(root, b.args.seed, w)
        traced = trace and w > 0 and w % 2 == 0
        if traced:
            from profiler import Tracer
            b.tracer = Tracer()
        t0 = time.perf_counter()
        res = corpus_wave(b, root, out, tables_out)
        t1 = time.perf_counter()
        reads, counts = read_back(b, out)
        longest = max(longest, time.perf_counter() - t0)
        rec = dict(wave=w, g=g, root=root, wall=t1 - t0, reads=reads,
                   counts=counts, timed=True, traced=traced,
                   snap=res["snap"])
        if traced:
            rec["extra"] = _corpus_extras(b, res)
            rec["layers"] = b.tracer.collect(b.spark)
            b.tracer = None
            layer_waves.append(rec)
        waves.append(rec)
        _log_wave(rec)
        b.spark.catalog.clearCache()
        w += 1
    sampler.stop()

    # -- correctness (after the clock): one check per document and per
    # read. A document passes when its table rows equal the exact fold
    # and its curation verdict (and row) equals the DuckDB twin's.
    corpus_rows = {r.doc_id: r for r in read_committed(b.spark, out).collect()}
    got_cells: dict[str, Counter] = {}
    for r in read_committed(b.spark, tables_out).collect():
        if r.cells is not None:
            got_cells.setdefault(r.doc_id, Counter())["|".join(r.cells)] += 1
    expected_total = 0
    for rec in waves:
        exp = oracles.corpus_expected(rec["g"]["docs"], rec["root"])
        expected_total += len(exp["corpus"])
        for n in rec["counts"]:
            b.check(n == expected_total,
                    f"wave {rec['wave']}: read {n} rows, "
                    f"expected {expected_total}")
        for d in rec["g"]["docs"]:
            want = exp["corpus"].get(d.doc_id)
            r = corpus_rows.pop(d.doc_id, None)
            got = None if r is None else (r.pred_lang,
                                          round(r.quality_score, 4),
                                          r.n_words, r.n_chars)
            cells_ok = (got_cells.get(d.doc_id, Counter())
                        == exp["table_cells"].get(d.doc_id, Counter()))
            b.check(got == want and cells_ok,
                    f"{d.doc_id}: corpus row {got}, oracle {want}; table "
                    f"rows {'match' if cells_ok else 'differ'}")
        shutil.rmtree(rec["root"], ignore_errors=True)
    b.check(not corpus_rows,
            f"{len(corpus_rows)} committed corpus rows match no input")

    metrics = _e2e(b, waves, sampler,
                   wave_docs=[r["g"]["props"]["docs"] for r in waves])
    props = waves[0]["g"]["props"]
    print("perfbench: input " + json.dumps(props), file=sys.stderr)
    if trace:
        metrics = _corpus_layers(b, waves, layer_waves)
        metrics.update(_proc_layers(sampler))
    return metrics


def read_back(b: Bench, out: str) -> tuple[list[float], list[int]]:
    """Time the run's reader counts of the committed table."""
    from pdfspark.sinks.snapshot import read_committed

    times, counts = [], []
    for _ in range(_reads(b)):
        t0 = time.perf_counter()
        with b.span("snapshot.read"):
            counts.append(read_committed(b.spark, out).count())
        times.append(time.perf_counter() - t0)
    return times, counts


def _log_wave(rec: dict) -> None:
    print(f"perfbench: wave {rec['wave']} wall {rec['wall']:.3f}s "
          f"reads {' '.join(f'{t:.3f}' for t in rec['reads'])}s "
          f"traced {int(rec['traced'])}", file=sys.stderr)


def _corpus_extras(b: Bench, res: dict) -> dict:
    """Traced-only counts the pipeline does not expose: LSH candidate
    and verified pairs over the exact-dedup survivors, merged table
    rows, and kept documents. Runs outside every layer span."""
    from pyspark.sql import functions as F

    from pdfspark.operators.dedup import (
        exact_duplicates,
        minhash_candidates,
        minhash_verified,
    )

    keep = exact_duplicates(res["text"]).select(
        F.col("keeper_doc_id").alias("doc_id"))
    uniq = res["text"].join(keep, "doc_id", "left_semi").localCheckpoint()
    return dict(candidate_pairs=minhash_candidates(uniq).count(),
                verified_pairs=minhash_verified(uniq).count(),
                rows_out=res["tables"].count(),
                docs_kept=res["corpus"].count())


def _lay(rec: dict, layer: str) -> dict:
    """One traced wave's profiler sums for ``layer`` (zeros if unused)."""
    from profiler import _empty

    return rec["layers"].get(layer) or _empty()


def _corpus_layers(b: Bench, waves, layer_waves) -> dict:
    def mean(f):
        return statistics.mean(f(r) for r in layer_waves)

    scaling = _fold_scaling(b)
    m = _zero_layers()
    m.update({
        "session.build_s": b.setup_stats["build_s"],
        "boilerplate.s": mean(lambda r: _lay(r, "boilerplate")["s"]),
        "boilerplate.shuffle_write_bytes":
            mean(lambda r: _lay(r, "boilerplate")["shuffle_write_bytes"]),
        "fold.s": mean(lambda r: _lay(r, "fold")["s"]),
        "fold.tasks": mean(lambda r: _lay(r, "fold")["tasks"]),
        "fold.py_boot_ms": mean(lambda r: _lay(r, "fold")["py_boot_ms"]),
        "fold.py_run_ms": mean(lambda r: _lay(r, "fold")["py_run_ms"]),
        "fold.arrow_in_bytes":
            mean(lambda r: _lay(r, "fold")["arrow_in_bytes"]),
        "fold.arrow_out_bytes":
            mean(lambda r: _lay(r, "fold")["arrow_out_bytes"]),
        "fold.shuffle_write_bytes":
            mean(lambda r: _lay(r, "fold")["shuffle_write_bytes"]),
        "fold.spill_bytes": mean(lambda r: _lay(r, "fold")["spill_bytes"]),
        "fold.skew_docs": mean(lambda r: r["g"]["props"]["skew_docs"]),
        "fold.max_over_median_task_s":
            mean(lambda r: _lay(r, "fold")["max_over_median_task"]),
        "fold.scaling_1_to_4": scaling,
        "tables.s": mean(lambda r: _lay(r, "tables")["s"]),
        "tables.py_groups":
            mean(lambda r: r["g"]["props"]["table_page_groups"]),
        "tables.py_boot_ms": mean(lambda r: _lay(r, "tables")["py_boot_ms"]),
        "tables.py_run_ms": mean(lambda r: _lay(r, "tables")["py_run_ms"]),
        "tables.arrow_in_bytes":
            mean(lambda r: _lay(r, "tables")["arrow_in_bytes"]),
        "tables.rows_out": mean(lambda r: r["extra"]["rows_out"]),
        "curate.s": mean(lambda r: _lay(r, "curate")["s"]),
        "curate.shuffle_write_bytes":
            mean(lambda r: _lay(r, "curate")["shuffle_write_bytes"]),
        "curate.candidate_pairs":
            mean(lambda r: r["extra"]["candidate_pairs"]),
        "curate.verified_pairs": mean(lambda r: r["extra"]["verified_pairs"]),
        "curate.docs_kept": mean(lambda r: r["extra"]["docs_kept"]),
        "snapshot.commit_s": mean(lambda r: _lay(r, "snapshot.commit")["s"]),
        "snapshot.read_s": mean(lambda r: _lay(r, "snapshot.read")["s"]
                                / _reads(b)),
        "snapshot.live_snapshots": mean(lambda r: r["wave"] + 1),
        "snapshot.files_written": mean(
            lambda r: _snapshot_dir_stats(os.path.join(b.work, "corpus"),
                                          r["snap"])[0]),
        "snapshot.bytes_written_per_input_byte": mean(
            lambda r: _snapshot_dir_stats(os.path.join(b.work, "corpus"),
                                          r["snap"])[1]
            / r["g"]["props"]["bytes"]),
        "snapshot.commit_s_growth":
            _lay(layer_waves[-1], "snapshot.commit")["s"]
            / _lay(layer_waves[0], "snapshot.commit")["s"],
        "trace.overhead_s": _trace_overhead(waves),
    })
    cand = m["curate.candidate_pairs"]
    m["curate.verified_ratio"] = (m["curate.verified_pairs"] / cand
                                  if cand else 0.0)
    return m


def _fold_scaling(b: Bench) -> float:
    """Fold wall at local[1] over the run's local[nproc] on one more
    wave's input (forced with localCheckpoint, header/footer
    precomputed, best of two). The local[1] session replaces the run's
    session in the same JVM."""
    from pdfspark.operators.boilerplate import header_footer
    from pdfspark.operators.extract import extract_documents_split

    import gen

    root = os.path.join(b.work, "scaling")
    gen.corpus_wave(root, b.args.seed, 9999)  # a wave id no run reaches

    def fold_wall() -> float:
        spark = b.spark
        docs = spark.read.parquet(os.path.join(root, "documents_in.parquet"))
        geom = spark.read.parquet(os.path.join(root, "spans_geom.parquet"))
        hf = header_footer(geom).localCheckpoint(eager=True)
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            extract_documents_split(
                docs, hf, skew_threshold=gen.SKEW_THRESHOLD,
                spans_per_chunk=gen.SPANS_PER_CHUNK,
            ).localCheckpoint(eager=True)
            t = time.perf_counter() - t0
            best = t if best is None else min(best, t)
        return best

    wall4 = fold_wall()
    b.spark.stop()
    b.cold_session("local[1]")
    wall1 = fold_wall()
    return wall1 / wall4


# ---------------------------------------------------------------------------
# stream_append
# ---------------------------------------------------------------------------

def _load_job():
    spec = importlib.util.spec_from_file_location(
        "perfbench_extract_job", os.path.join(ROOT, "jobs", "extract_job.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class _StreamHooks:
    """Traced stream waves: wrap the layer entry points the drain calls
    so each layer's output is forced inside its own span."""

    def __init__(self, b: Bench):
        import pdfspark.sinks.snapshot as snapshot
        import pdfspark.streaming.extract_stream as es

        self.b, self.es, self.snapshot = b, es, snapshot
        self.orig = (es.decode_payloads, snapshot.commit_append,
                     es.extract_payload_stream)
        # (table, data files, data bytes) of every commit
        self.commits: list[tuple[str, int, int]] = []

    def __enter__(self):
        decode, commit, drain = self.orig
        b = self.b

        def traced_decode(bin_df, *a, **kw):
            return b.force("sources", lambda: decode(bin_df, *a, **kw))

        def traced_commit(df, output, *a, **kw):
            df = b.force("fold", lambda: df)
            with b.span("snapshot.commit"):
                snap = commit(df, output, *a, **kw)
            # measured now: a later compaction removes the snapshot
            self.commits.append((output, *_snapshot_dir_stats(output, snap)))
            return snap

        def traced_drain(*a, **kw):
            with b.span("streaming"):
                return drain(*a, **kw)

        self.es.decode_payloads = traced_decode
        self.snapshot.commit_append = traced_commit
        self.es.extract_payload_stream = traced_drain
        return self

    def __exit__(self, *exc):
        (self.es.decode_payloads, self.snapshot.commit_append,
         self.es.extract_payload_stream) = self.orig


def run_stream(b: Bench, seconds: float, trace: bool) -> dict:
    import gen
    import oracles
    from pdfspark.sinks.snapshot import (
        committed_snapshots,
        compact_snapshots,
        read_committed,
    )

    job = _load_job()
    inbox = os.path.join(b.work, "inbox")
    landing = os.path.join(b.work, "landing")
    out = os.path.join(b.work, "out")
    met = os.path.join(b.work, "metrics")
    ckpt = os.path.join(b.work, "checkpoint")
    os.makedirs(inbox)
    os.makedirs(landing)
    argv = ["--stream-payloads", inbox, "--output", out,
            "--checkpoint", ckpt, "--metrics", met]
    files: dict[str, bytes] = {}
    quarantined: set[str] = set()
    waves, layer_waves, compacts = [], [], []
    sampler = t_end = None
    w, longest = 0, 0.0
    while w < _min_waves(b) or time.perf_counter() + longest < t_end:
        g = gen.stream_wave(b.args.seed, w)
        for name, body in g["files"]:
            with open(os.path.join(landing, name), "wb") as fh:
                fh.write(body)
        for name, body in g["files"]:
            # atomic rename: the file source never lists a partial file
            os.rename(os.path.join(landing, name), os.path.join(inbox, name))
            files[name] = body
        quarantined.update(g["quarantined"])
        traced = trace and w > 0 and w % 2 == 0
        if traced:
            from profiler import Tracer
            b.tracer = Tracer()
        t0 = time.perf_counter()
        with _StreamHooks(b) if traced else nullcontext() as hooks:
            with b.span("jobs"):
                rc = job.main(argv)
        t1 = time.perf_counter()
        reads, counts = read_back(b, out)
        live = len(committed_snapshots(out))
        b.check(rc == 0, f"wave {w}: extract_job returned {rc}")
        # quarantined payloads commit a status='quarantined' row too
        for n in counts:
            b.check(n == len(files),
                    f"wave {w}: read {n} rows after {len(files)} landed")
        rec = dict(wave=w, wall=t1 - t0, reads=reads, live=live,
                   docs=len(g["files"]), bytes=g["props"]["bytes"],
                   timed=w > 0, traced=traced, props=g["props"])
        if traced:
            rec["commits"] = [c for c in hooks.commits if c[0] == out]
            rec["layers"] = b.tracer.collect(b.spark)
            b.tracer = None
            layer_waves.append(rec)
        waves.append(rec)
        _log_wave(rec)
        if (w + 1) % COMPACT_EVERY == 0:
            c0 = time.perf_counter()
            compact_snapshots(b.spark, out)
            compacts.append(time.perf_counter() - c0)
        if w == 0:
            sampler, t_end = _start_clock(b, seconds)
        else:
            longest = max(longest, time.perf_counter() - t0)
        w += 1
    sampler.stop()

    # -- correctness (after the clock) ------------------------------------
    expected = oracles.stream_expected(
        {n: v for n, v in files.items()
         if n[:-len(".pdf")] not in quarantined})
    rows = read_committed(b.spark, out).select(
        "doc_id", "status", "spans").collect()
    seen: dict[str, int] = {}
    for r in rows:
        seen[r.doc_id] = seen.get(r.doc_id, 0) + 1
    b.check(all(v == 1 for v in seen.values()),
            "duplicate doc_id in the committed table")
    for r in rows:
        if r.doc_id in quarantined:
            b.check(r.status == "quarantined",
                    f"{r.doc_id}: status {r.status}, expected quarantined")
        else:
            exp = expected.get(r.doc_id)
            b.check(r.status == "ok" and exp == [tuple(s) for s in r.spans],
                    f"{r.doc_id}: spans differ from the oracle fold")
    b.check(set(seen) == set(expected) | quarantined,
            "committed doc_ids differ from the landed payloads")
    lineage = read_committed(b.spark, met)
    n_lineage = lineage.groupBy().sum("doc_count").collect()[0][0]
    b.check(n_lineage == len(rows),
            f"lineage doc_count {n_lineage} != {len(rows)} committed rows")

    metrics = _e2e(b, waves, sampler, wave_docs=[r["docs"] for r in waves])
    print("perfbench: input " + json.dumps(waves[0]["props"]),
          file=sys.stderr)
    if trace:
        metrics = _stream_layers(b, waves, layer_waves, compacts)
        metrics.update(_proc_layers(sampler))
    return metrics


def _stream_layers(b: Bench, waves, layer_waves, compacts) -> dict:
    from profiler import _union_s

    def mean(f):
        return statistics.mean(f(r) for r in layer_waves)

    def inclusive(r, key):
        return sum(_lay(r, k)[key] for k in
                   ("streaming", "sources", "fold", "snapshot.commit"))

    def busy(r):
        return _union_s([iv for k in ("streaming", "sources", "fold",
                                      "snapshot.commit")
                         for iv in _lay(r, k)["job_intervals"]])

    def snap_stats(r):
        return (sum(f for _, f, _ in r["commits"]),
                sum(x for _, _, x in r["commits"]))

    # commit time late in a compaction cycle over early in it
    cycles = {}
    for r in layer_waves:
        cycles.setdefault(r["wave"] // COMPACT_EVERY, []).append(
            _lay(r, "snapshot.commit")["s"])
    growth = [c[-1] / c[0] for c in cycles.values() if len(c) > 1]
    m = _zero_layers()
    m.update({
        "session.build_s": b.setup_stats["build_s"],
        "job.self_s": mean(lambda r: _lay(r, "jobs")["s"]
                           - _lay(r, "streaming")["s"]),
        "job.spark_jobs": mean(lambda r: _lay(r, "jobs")["spark_jobs"]
                               + inclusive(r, "spark_jobs")),
        "sources.s": mean(lambda r: _lay(r, "sources")["s"]),
        "sources.tasks": mean(lambda r: _lay(r, "sources")["tasks"]),
        "sources.files_per_task": mean(
            lambda r: r["docs"] / max(1, _lay(r, "sources")["tasks"])),
        "sources.py_boot_ms": mean(lambda r: _lay(r, "sources")["py_boot_ms"]),
        "sources.py_init_ms": mean(lambda r: _lay(r, "sources")["py_init_ms"]),
        "sources.py_run_ms": mean(lambda r: _lay(r, "sources")["py_run_ms"]),
        "sources.arrow_out_bytes":
            mean(lambda r: _lay(r, "sources")["arrow_out_bytes"]),
        "sources.docs_ok": mean(lambda r: r["docs"]
                                - r["props"]["files"]
                                * r["props"]["quarantine_share"]),
        "sources.docs_quarantined": mean(
            lambda r: r["props"]["files"] * r["props"]["quarantine_share"]),
        "fold.s": mean(lambda r: _lay(r, "fold")["s"]),
        "fold.tasks": mean(lambda r: _lay(r, "fold")["tasks"]),
        "fold.py_boot_ms": mean(lambda r: _lay(r, "fold")["py_boot_ms"]),
        "fold.py_run_ms": mean(lambda r: _lay(r, "fold")["py_run_ms"]),
        "fold.arrow_in_bytes":
            mean(lambda r: _lay(r, "fold")["arrow_in_bytes"]),
        "fold.arrow_out_bytes":
            mean(lambda r: _lay(r, "fold")["arrow_out_bytes"]),
        "fold.shuffle_write_bytes":
            mean(lambda r: _lay(r, "fold")["shuffle_write_bytes"]),
        "fold.spill_bytes": mean(lambda r: _lay(r, "fold")["spill_bytes"]),
        "fold.max_over_median_task_s":
            mean(lambda r: _lay(r, "fold")["max_over_median_task"]),
        "snapshot.commit_s": mean(lambda r: _lay(r, "snapshot.commit")["s"]),
        "snapshot.read_s": mean(lambda r: _lay(r, "snapshot.read")["s"]
                                / _reads(b)),
        "snapshot.compact_s":
            statistics.median(compacts) if compacts else 0.0,
        "snapshot.live_snapshots": statistics.mean(r["live"] for r in waves),
        "snapshot.files_written": mean(lambda r: snap_stats(r)[0]),
        "snapshot.bytes_written_per_input_byte":
            mean(lambda r: snap_stats(r)[1] / r["bytes"]),
        "snapshot.commit_s_growth":
            statistics.mean(growth) if growth else 1.0,
        "stream.batches": mean(lambda r: len(r["commits"])),
        "stream.tasks": mean(lambda r: inclusive(r, "tasks")),
        "stream.py_run_ms": mean(lambda r: inclusive(r, "py_run_ms")),
        "stream.plan_s": mean(lambda r: _lay(r, "streaming")["s"] - busy(r)),
        "trace.overhead_s": _trace_overhead(waves),
    })
    return m


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

# name -> unit, for the per-layer metrics every traced run reports
LAYER_UNITS = {
    "session.build_s": "s",
    "job.self_s": "s", "job.spark_jobs": "count",
    "sources.s": "s", "sources.tasks": "count",
    "sources.files_per_task": "ratio", "sources.py_boot_ms": "ms",
    "sources.py_init_ms": "ms", "sources.py_run_ms": "ms",
    "sources.arrow_out_bytes": "B", "sources.docs_ok": "count",
    "sources.docs_quarantined": "count",
    "boilerplate.s": "s", "boilerplate.shuffle_write_bytes": "B",
    "fold.s": "s", "fold.tasks": "count", "fold.py_boot_ms": "ms",
    "fold.py_run_ms": "ms", "fold.arrow_in_bytes": "B",
    "fold.arrow_out_bytes": "B", "fold.shuffle_write_bytes": "B",
    "fold.spill_bytes": "B", "fold.skew_docs": "count",
    "fold.max_over_median_task_s": "ratio", "fold.scaling_1_to_4": "ratio",
    "tables.s": "s", "tables.py_groups": "count", "tables.py_boot_ms": "ms",
    "tables.py_run_ms": "ms", "tables.arrow_in_bytes": "B",
    "tables.rows_out": "count",
    "curate.s": "s", "curate.shuffle_write_bytes": "B",
    "curate.candidate_pairs": "count", "curate.verified_pairs": "count",
    "curate.verified_ratio": "ratio", "curate.docs_kept": "count",
    "snapshot.commit_s": "s", "snapshot.read_s": "s",
    "snapshot.compact_s": "s", "snapshot.live_snapshots": "count",
    "snapshot.files_written": "count",
    "snapshot.bytes_written_per_input_byte": "ratio",
    "snapshot.commit_s_growth": "ratio",
    "stream.batches": "count", "stream.tasks": "count",
    "stream.py_run_ms": "ms", "stream.plan_s": "s",
    "proc.peak_rss_mb": "MB", "proc.jvm_peak_mb": "MB",
    "trace.overhead_s": "s",
}

E2E_UNITS = {
    "setup_s": "s", "docs_per_s": "docs/s", "cpu_ms_per_doc": "ms",
    "py_peak_mb": "MB", "ok_frac": "ratio", "wave_p50_s": "s",
    "wave_tail_s": "s", "read_p50_s": "s",
}


def _proc_layers(sampler) -> dict:
    """Whole-tree and JVM peak memory of the measured window. Ungated:
    the JVM's resident heap follows its collector's sizing decisions
    and varies from run to run far more than any bound allows."""
    return {"proc.peak_rss_mb": sampler.peak_bytes["tree"] / 2 ** 20,
            "proc.jvm_peak_mb": sampler.peak_bytes["java"] / 2 ** 20}


def _trace_overhead(waves) -> float:
    """Median over traced waves of the traced wave's wall minus that of
    the untraced wave right after it (same warmth, same input size)."""
    return statistics.median(
        a["wall"] - b["wall"] for a, b in zip(waves, waves[1:])
        if a["traced"] and not b["traced"])


def _zero_layers() -> dict:
    """Layers a workload does not exercise report 0."""
    return {k: 0.0 for k in LAYER_UNITS}


def _reads(b: Bench) -> int:
    return TRACED_READS if b.args.trace else READS[b.args.workload]


def _min_waves(b: Bench) -> int:
    """Waves a run makes whatever the deadline (see MIN_WAVES). Past
    these, a wave starts only when the longest timed wave so far,
    repeated, would end before the deadline. A traced run traces the
    even waves from wave 2 on."""
    return MIN_WAVES[b.args.workload][b.args.trace]


def _start_clock(b: Bench, seconds: float):
    """Start the measured window: a full JVM and driver GC (so memory
    left over from set-up or warm-up does not count), then CPU and
    memory sampling and the deadline."""
    import gc

    from procmon import TreeSampler

    b.spark._jvm.System.gc()
    gc.collect()
    return TreeSampler().start(), time.perf_counter() + seconds


def _e2e(b: Bench, waves, sampler, wave_docs) -> dict:
    """End-to-end metrics over the untraced waves. CPU and RSS cover
    the whole measured window, reads and compactions included."""
    timed = [(d, r) for d, r in zip(wave_docs, waves) if r["timed"]]
    docs_total = sum(d for d, _ in timed)
    untraced = [(d, r) for d, r in timed if not r["traced"]]
    walls = [r["wall"] for _, r in untraced]
    rates = [d / r["wall"] for d, r in untraced]
    tail_s, tail_pct = tail(walls)
    print(f"perfbench: {len(walls)} untraced waves; wave_tail_s is the "
          f"p{tail_pct:.0f} wave latency; peak PSS MB "
          + json.dumps({k: round(v / 2 ** 20) for k, v in
                        sampler.peak_bytes.items()}), file=sys.stderr)
    return {
        "setup_s": b.setup_stats["setup_s"],
        "docs_per_s": statistics.median(rates),
        "cpu_ms_per_doc": sampler.cpu_s * 1e3 / docs_total,
        "py_peak_mb": sampler.peak_bytes["python"] / 2 ** 20,
        "ok_frac": 1.0 - b.failed / max(1, b.attempted),
        "wave_p50_s": statistics.median(walls),
        "wave_tail_s": tail_s,
        # per wave first: read cost grows with the live snapshots, and a
        # median over the pooled reads would jump between waves
        "read_p50_s": statistics.median(
            [statistics.median(r["reads"]) for _, r in untraced]),
    }


WORKLOADS = {"spans_to_corpus": run_corpus, "stream_append": run_stream}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.perf_counter()

    for need in ("pdfspark/session.py", "jobs/extract_job.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a "
                  "pdfspark checkout", file=sys.stderr)
            return 2
    sys.path[:0] = [ROOT, HERE]

    b = Bench(args)
    os.makedirs(b.work)
    os.environ["TMPDIR"] = os.path.join(b.work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(b.work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_LAUNCHER_OPTS"),
                    "-XX:-UsePerfData") if p)
    # Python workers import pdfspark whatever their working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    try:
        b.setup_stats = b.setup()
        print(f"perfbench: set-up took {time.perf_counter() - started:.1f}s",
              file=sys.stderr)
        metrics = WORKLOADS[args.workload](b, args.seconds, bool(args.trace))
    finally:
        b.shutdown()
        shutil.rmtree(b.work, ignore_errors=True)
        parent = os.path.dirname(b.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    units = LAYER_UNITS if args.trace else E2E_UNITS
    result = {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]}
                    for k in units},
    }
    print(f"perfbench: run took {time.perf_counter() - started:.1f}s",
          file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
