#!/usr/bin/env python3
"""Time one registered query on a committed revision and on the working tree.

    python3 scripts/ab.py QUERY BASE_REV [--sf DIR]     (Python 3.11+)

BASE_REV is extracted with ``git archive`` into a temporary directory. A
sample is one fresh-JVM ``bench.py --solo QUERY`` worker (prepared plan,
2 warmups, median of 5 runs) that imports ``data_wrangling_spark`` from
the tree under test. Ten pairs run, alternating which side goes first.
Each worker also reports the value hash of its collected result
(``perfbench.oracle.canon_hash``); when the hashes differ no verdict is
given and the exit status is 2.

Verdict: the working tree is "faster" when it wins at least 9 of the 10
pairs (ties count for neither side) and its median undercuts the base
median by more than the interquartile range of the base runs; "slower"
is the mirror image; anything else is "unresolved".

A rework committed as <sha> is timed against the code before it with
``scripts/ab.py QUERY <sha>^``. Variants that lost a past measurement
stay in git history, not in the tree.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import statistics
import subprocess
import sys
import tarfile
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import solo_remeasure  # noqa: E402

PAIRS = 10
MIN_WINS = 9


def extract(rev: str, dest: str) -> None:
    """Write the files of commit ``rev`` into ``dest``."""
    blob = subprocess.run(
        ["git", "-C", REPO, "archive", rev],
        check=True, capture_output=True,
    ).stdout
    with tarfile.open(fileobj=io.BytesIO(blob)) as tar:
        tar.extractall(dest, filter="data")


def summarize(base: list[dict], work: list[dict]) -> dict:
    """Pair up the two sides' worker lines and apply the verdict rule in
    the module docstring."""
    b = [r["median"] for r in base]
    w = [r["median"] for r in work]
    q1, _, q3 = statistics.quantiles(b, n=4)
    gap = statistics.median(b) - statistics.median(w)
    out = {
        "base_s": b,
        "work_s": w,
        "base_median": round(statistics.median(b), 4),
        "work_median": round(statistics.median(w), 4),
        "base_iqr": round(q3 - q1, 4),
        "work_wins": sum(x < y for x, y in zip(w, b)),
        "base_wins": sum(y < x for x, y in zip(w, b)),
        "hashes": sorted({r["hash"] for r in base + work}),
    }
    if len(out["hashes"]) != 1:
        out["verdict"] = "refused: value hashes differ"
    elif out["work_wins"] >= MIN_WINS and gap > q3 - q1:
        out["verdict"] = "faster"
    elif out["base_wins"] >= MIN_WINS and -gap > q3 - q1:
        out["verdict"] = "slower"
    else:
        out["verdict"] = "unresolved"
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("query", help="registered query name")
    ap.add_argument("base_rev", help="git revision to compare against")
    ap.add_argument("--sf", help="table directory (default: bench.py's)")
    args = ap.parse_args()
    if args.sf:
        os.environ["SPARK_GRAFT_SF_DIR"] = args.sf

    runs: dict[str, list[dict]] = {"base": [], "work": []}
    with tempfile.TemporaryDirectory(prefix="dws-ab-") as base_tree:
        extract(args.base_rev, base_tree)
        trees = {"base": base_tree, "work": REPO}
        for i in range(PAIRS):
            order = ("base", "work") if i % 2 == 0 else ("work", "base")
            for side in order:
                line = solo_remeasure(args.query, tree=trees[side])
                if line is None:
                    return 1
                runs[side].append(line)
            print(
                f"pair {i + 1:2d} ({order[0]} first): "
                f"base {runs['base'][-1]['median']:.4f}s "
                f"work {runs['work'][-1]['median']:.4f}s",
                flush=True,
            )

    out = summarize(runs["base"], runs["work"])
    print(json.dumps({"query": args.query, "base_rev": args.base_rev, **out}))
    return 2 if out["verdict"].startswith("refused") else 0


if __name__ == "__main__":
    sys.exit(main())
