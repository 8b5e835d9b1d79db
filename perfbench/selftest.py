"""Self-test of the benchmark's checks.

    python3 perfbench/selftest.py

Run from the repository root. Every workload part runs once at toy size and its
output must pass its check; then the same output, deliberately corrupted
(one row dropped, one bbox nudged, one component id changed), must fail
it, so no check is vacuous. Exits non-zero on the first surprise.
"""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

TOY = {
    "crawl_to_tiles": {"N_PAGES": 200},
    "poi_match": {"N_REFS": 600, "N_QUERIES": 150, "N_CLUSTERS": 20},
    "crawl_increment": {"BASE_PAGES": 100, "BATCH_PAGES": 30, "N_BATCHES": 2},
}


def _drop_row(df):
    return df.iloc[1:]


def _nudge_bbox(df):
    df = df.copy()
    df.loc[df.index[0], "lx"] -= 1.0  # one metre
    return df


def _bump_component(df):
    df = df.copy()
    df.loc[df.index[0], "component"] += 1
    return df


# workload -> output name -> corruptions its check must catch
CORRUPTIONS = {
    "crawl_to_tiles": {"tiles": (_drop_row, _nudge_bbox), "pip": (_drop_row,), "json": (_drop_row,)},
    "poi_match": {"knn": (_drop_row,), "pairs": (_drop_row,), "cc": (_drop_row, _bump_component)},
    "crawl_increment": {"tiles": (_drop_row, _nudge_bbox)},
}


def main() -> int:
    root = Path.cwd().resolve()
    sys.path.insert(0, str(root))
    from perfbench.run import guard_environment, session, shutdown

    work = guard_environment(root)
    if work is None:
        return 2
    from perfbench.trace import Tracer
    from perfbench.workloads import PARTS

    spark = session(work, 2, trace=0)
    failures = []
    try:
        for name, cls in PARTS.items():
            wl = cls()
            for attr, value in TOY[name].items():
                setattr(wl, attr, value)
            wl.setup(spark, work / name, seed=7)
            ref = wl.reference()
            out = wl.op(spark, Tracer(spark, False), 1)
            outputs = wl.outputs(out)
            problems = wl.check(ref, outputs)
            print(f"{name}: clean output -> {problems or 'ok'}")
            if problems:
                failures.append(f"{name}: clean output failed its check: {problems}")
            for key, corruptions in CORRUPTIONS[name].items():
                for corrupt in corruptions:
                    bad = wl.check(ref, {**outputs, key: corrupt(outputs[key])})
                    print(f"{name}: {key} {corrupt.__name__.lstrip('_')} -> {bad or 'NOT CAUGHT'}")
                    if not bad:
                        failures.append(f"{name}: {corrupt.__name__} on {key} passed the check")
    finally:
        shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    for f in failures:
        print(f"FAIL {f}", file=sys.stderr)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
