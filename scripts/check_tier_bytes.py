#!/usr/bin/env python
"""Check that two builds of the same store write byte-identical tier files.

Builds the perfbench ``query`` store (its generated raw days for one seed,
then one ``run_pipeline``) twice, each in its own Python process and Spark
session, and compares every tier partition (``tier=<t>/event_date=<d>``)
by the SHA-256 of its files' contents; file names hold a random UUID, so
they are not compared. Also prints each tier's stored bytes per date (the
mean over its dates, in the first build). Exits 1 when some partition
differs.

    python3 scripts/check_tier_bytes.py [--seed N]
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import pathlib
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build(work: str, seed: int) -> dict[str, tuple[str, int]]:
    """Build the store under ``work``; {partition: (digest of its files,
    their bytes)}."""
    sys.path[:0] = [REPO, os.path.join(REPO, "perfbench")]
    from workloads import Query

    from diive_spark.plans import pipeline
    from diive_spark.session import get_spark

    spark = get_spark("check_tier_bytes", master="local[4]", shuffle_partitions=8)
    wl = Query(spark, work, seed)
    wl.prepare()
    pipeline.run_pipeline(spark, spark.read.parquet(wl.raw_dir()), wl.store())
    spark.stop()
    digests = {}
    for part in sorted(glob.glob(os.path.join(wl.store(), "tier=*", "event_date=*"))):
        paths = glob.glob(os.path.join(part, "*.parquet"))
        files = sorted(hashlib.sha256(pathlib.Path(f).read_bytes()).hexdigest() for f in paths)
        digests[os.path.relpath(part, wl.store())] = (
            hashlib.sha256("".join(files).encode()).hexdigest(),
            sum(os.path.getsize(f) for f in paths))
    return digests


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--build", help=argparse.SUPPRESS)  # child: build here, print digests
    args = ap.parse_args()
    if args.build:
        print(json.dumps(build(args.build, args.seed)))
        return 0
    with tempfile.TemporaryDirectory() as tmp:
        a, b = (json.loads(subprocess.run(
            [sys.executable, __file__, "--seed", str(args.seed), "--build", os.path.join(tmp, name)],
            check=True, capture_output=True, text=True).stdout.splitlines()[-1])
            for name in ("a", "b"))
    per_tier: dict[str, list[int]] = {}
    for part, (_, size) in a.items():
        per_tier.setdefault(part.split(os.sep)[0], []).append(size)
    for tier, sizes in sorted(per_tier.items()):
        print(f"{tier}: {sum(sizes) / len(sizes):,.0f} B per date over {len(sizes)} dates")
    same = [p for p in a if a[p][0] == b.get(p, ("",))[0]]
    print(f"{len(same)} of {len(a)} tier partitions byte-identical"
          + ("" if a.keys() == b.keys() else f"; partition sets differ: {sorted(a.keys() ^ b.keys())}"))
    for p in sorted(a.keys() - set(same)):
        print("  differs:", p)
    return 0 if len(same) == len(a) == len(b) else 1


if __name__ == "__main__":
    sys.exit(main())
