"""Interleaved A/B of two git revisions on the perfbench workloads.

    python scripts/ab_pairs.py HEAD~1 HEAD --workload relabel_scrape --pairs 10
    python scripts/ab_pairs.py main topic --workload batch_job --workload otlp_ingest --pairs 5

Each revision is exported with ``git archive`` into its own directory under
``--dir``, and ``perfbench/run.py --record`` runs inside it, so each side runs
what its own source builds. Pair i runs every workload once per side, one
workload per process, with seed ``--seed + i`` on both sides; REV_A goes first
on even pairs and REV_B on odd ones, so a drift in the host's speed lands on
both sides alike. The records go to ``<dir>/a.jsonl`` and ``<dir>/b.jsonl``,
and ``perfbench/compare.py`` prints the verdicts with REV_A as the parent.

It refuses to run when ``perfbench/`` or ``BENCHMARK.json`` differ between the
two revisions: the verdicts mean something only if both sides ran the same
benchmark.
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_PATHS = ("perfbench", "BENCHMARK.json")


def git(*args: str, check: bool = True, **kw) -> subprocess.CompletedProcess:
    return subprocess.run(["git", "-C", ROOT, *args], check=check, **kw)


def export(rev: str, dest: str) -> None:
    """Write the tree of ``rev`` into ``dest``."""
    os.makedirs(dest)
    with tempfile.TemporaryFile() as tar:
        git("archive", "--format=tar", rev, stdout=tar)
        tar.seek(0)
        with tarfile.open(fileobj=tar) as t:
            t.extractall(dest, filter="data")


def run(side_dir: str, workload: str, seed: int, seconds: float | None, record: str) -> int:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--trace", "0", "--record", record]
    if seconds is not None:
        cmd += ["--seconds", str(seconds)]
    proc = subprocess.run(cmd, cwd=side_dir, capture_output=True, text=True)
    tail = proc.stdout.strip().splitlines()[-1:] or proc.stderr.strip().splitlines()[-3:]
    print(f"  {os.path.basename(side_dir)} {workload} seed {seed}: exit {proc.returncode} {' '.join(tail)}",
          flush=True)
    return proc.returncode


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("rev_a", help="the parent side")
    ap.add_argument("rev_b", help="the change side")
    ap.add_argument("--workload", action="append", required=True, help="repeat for several workloads")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=101, help="seed of the first pair")
    ap.add_argument("--seconds", type=float, default=None, help="run.py --seconds (default: BENCHMARK.json)")
    ap.add_argument("--dir", default=None, help="scratch directory (default: a new temporary one)")
    args = ap.parse_args(argv)

    differs = git("diff", "--quiet", args.rev_a, args.rev_b, "--", *BENCH_PATHS, check=False).returncode
    if differs:
        sys.exit(f"refused: {' or '.join(BENCH_PATHS)} differ between {args.rev_a} and {args.rev_b}")
    work = args.dir or tempfile.mkdtemp(prefix="ab_pairs-")
    sides = {"a": (args.rev_a, os.path.join(work, "a")), "b": (args.rev_b, os.path.join(work, "b"))}
    for rev, dest in sides.values():
        export(rev, dest)
    print(f"A = {args.rev_a}, B = {args.rev_b}, in {work}", flush=True)

    failed = 0
    for i in range(args.pairs):
        seed = args.seed + i
        order = ("a", "b") if i % 2 == 0 else ("b", "a")
        print(f"pair {i + 1}/{args.pairs} (seed {seed}, {order[0].upper()} first)", flush=True)
        for workload in args.workload:
            for side in order:
                record = os.path.join(work, f"{side}.jsonl")
                failed += run(sides[side][1], workload, seed, args.seconds, record) != 0
    if failed:
        print(f"{failed} runs exited non-zero", flush=True)
    compare = os.path.join(sides["a"][1], "perfbench", "compare.py")
    return subprocess.run([sys.executable, compare, os.path.join(work, "a.jsonl"),
                           os.path.join(work, "b.jsonl")]).returncode


if __name__ == "__main__":
    sys.exit(main())
