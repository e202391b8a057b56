"""Flip the round-(N+1) debut queue live: rewrite every
``@pending_query(`` decoration to ``@query(`` across the operator and
streaming modules, emptying ``registry.PENDING`` into the live
registry. The first command of a new round (after reading VERDICT):

    python tools/flip_pending.py            # dry run: list flip sites
    python tools/flip_pending.py --write    # rewrite in place

then append the flipped names to ``SWEEP_ORDER`` in
``catme_etl_spark/operators/ordering.py``, run ``python
tools/check_oracle.py --only <names>`` (sf0.01 by default), and
pytest. The tool only rewrites decoration lines — bodies, oracles, and
tests are already live (see PENDING_CHECK_r*.txt for the pre-verified
hashes).
"""

from __future__ import annotations

import argparse
import glob
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PKG_GLOBS = [
    os.path.join(REPO, "catme_etl_spark", "operators", "*.py"),
    os.path.join(REPO, "catme_etl_spark", "streaming", "*.py"),
]


def flip_sites() -> dict[str, list[str]]:
    """path -> query names whose decoration would flip."""
    out: dict[str, list[str]] = {}
    # name on the next line (the module convention) OR inline on the
    # decorator line — \s* spans newlines, so both forms flip (a
    # formatting drift the sync test caught in round 10)
    pat = re.compile(r'@pending_query\(\s*"([a-zA-Z0-9_]+)"')
    for g in PKG_GLOBS:
        for path in sorted(glob.glob(g)):
            names = pat.findall(open(path).read())
            if names:
                out[path] = names
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--write", action="store_true")
    args = ap.parse_args()

    sites = flip_sites()
    total = sum(len(v) for v in sites.values())
    for path, names in sites.items():
        rel = os.path.relpath(path, REPO)
        for n in names:
            print(f"{rel}: {n}")
    if not total:
        print("no pending registrations found")
        return 0
    if not args.write:
        print(f"\n{total} pending registrations (dry run; --write to flip)")
        return 0
    # rewrite with the SAME pattern the discovery scan uses — the two
    # exact string spellings previously replaced here could miss a
    # site the scan counted (e.g. spaces before the quote), reporting
    # it flipped while it stayed pending (round-10 ADVICE)
    site_pat = re.compile(r"@pending_query\((\s*)(?=\")")
    for path in sites:
        src = open(path).read()
        src = src.replace("@pending_query(\n", "@query(\n")
        src = site_pat.sub(lambda m: "@query(" + m.group(1), src)
        assert not re.search(
            r'@pending_query\(\s*"', src
        ), f"unflipped pending site survived the rewrite in {path}"
        open(path, "w").write(src)
    print(f"\nflipped {total} registrations live — now run:")
    print("  append to SWEEP_ORDER in catme_etl_spark/operators/ordering.py")
    print("  python tools/check_oracle.py --sf /root/testdata/sf0.01 --only "
          + ",".join(n for v in sites.values() for n in v))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
