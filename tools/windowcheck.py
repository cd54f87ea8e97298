"""Show the projected driver-verification window, or record the greens.

The driver verifies ``queries()`` in registration order with a
bounded (~50) window. Registration order sorts by (tier, round): tier
0 has no recorded green, tier 1 changed code since its green (its
digest differs from the recorded one), tier 2 is fresh — see
gasket_spark/queries/__init__.py and gasket_spark/queries/digest.py.

Usage:
    python tools/windowcheck.py [window_size]   # projected window
    python tools/windowcheck.py record          # rewrite VERIFIED.json

``record`` must run whenever a CORRECTNESS_r*.json artifact lands (and
is committed). It reads every artifact, newest verdict wins: a
hash-green counts as round N, a rows-only pass as N-0.5, a red drops
the query. Each green's digest is computed on the tree that driver run
verified — the parent of the commit that added the artifact, extracted
with ``git archive`` and imported in a subprocess. ``record`` refuses
an artifact whose queries are not the first N of that tree's
registration order: then that tree is not the one the run verified.
"""

from __future__ import annotations

import io
import json
import math
import os
import re
import subprocess
import sys
import tarfile
import tempfile
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ARTIFACT = re.compile(r"CORRECTNESS_r(\d+)\.json")
DIGEST_PY = os.path.join(REPO, "gasket_spark", "queries", "digest.py")
WINDOW = 50  # queries the driver verifies per round
# runs in a fresh interpreter on an extracted tree: this checkout's
# digest.py, that tree's gasket_spark
_TREE_STATE = """
import importlib.util, json, sys
sys.path.insert(0, sys.argv[1])
spec = importlib.util.spec_from_file_location("_digest", sys.argv[2])
digest = importlib.util.module_from_spec(spec)
spec.loader.exec_module(digest)
from gasket_spark.queries import QUERIES
print(json.dumps([digest.query_digests(), list(QUERIES)]))
"""


def _git(*args: str, text: bool = True):
    return subprocess.run(["git", *args], cwd=REPO, check=True,
                          capture_output=True, text=text).stdout


def artifacts() -> list[tuple[int, str]]:
    return sorted((int(m.group(1)), n) for n in os.listdir(REPO)
                  if (m := ARTIFACT.fullmatch(n)))


def newest_greens() -> dict[str, tuple[float, str]]:
    """query -> (round, artifact) of its newest verdict, if green."""
    out: dict[str, tuple[float, str]] = {}
    for rnd, name in artifacts():
        with open(os.path.join(REPO, name)) as fh:
            rows = json.load(fh)
        for q, row in rows.items():
            if row.get("hash_match") is True:
                out[q] = (rnd, name)
            elif (row.get("err") == "no_oracle"
                  and (row.get("spark_rows") or 0) > 0):
                out[q] = (rnd - 0.5, name)
            else:
                out.pop(q, None)
    return out


def tree_state(rev: str) -> tuple[dict[str, str], list[str]]:
    """(query_digests() via this digest.py, registration order) of
    ``rev``. The whole tree is extracted: older registries ranked
    their queries from the artifacts committed beside them."""
    with tempfile.TemporaryDirectory() as tmp:
        blob = _git("archive", "--format=tar", rev, text=False)
        with tarfile.open(fileobj=io.BytesIO(blob)) as tar:
            tar.extractall(tmp, filter="data")
        out = subprocess.run(
            [sys.executable, "-c", _TREE_STATE, tmp, DIGEST_PY],
            cwd=tmp, check=True, capture_output=True, text=True).stdout
    digests, order = json.loads(out.strip().splitlines()[-1])
    return digests, order


def verified_trees() -> dict[str, str]:
    """artifact -> the commit its driver run verified: the parent of
    the commit that added the artifact."""
    trees = {}
    for _, name in artifacts():
        added = _git("log", "--diff-filter=A", "--format=%H", "--",
                     name).split()
        if not added:
            sys.exit(f"{name} is not committed: commit it, then record")
        trees[name] = f"{added[-1]}^"
    return trees


def recorded() -> str:
    """The VERIFIED.json text the committed artifacts imply."""
    from gasket_spark.queries import QUERIES

    greens = newest_greens()
    trees = verified_trees()
    verified: dict[str, list] = {}
    for name in sorted({a for _, a in greens.values()}):
        digests, order = tree_state(trees[name])
        with open(os.path.join(REPO, name)) as fh:
            ran = set(json.load(fh))
        if ran != set(order[:len(ran)]):
            sys.exit(f"{name}: its queries are not the first {len(ran)} "
                     f"of {trees[name]}'s registry, so that is not the "
                     "tree its run verified")
        for q, (rnd, art) in greens.items():
            if art == name and q in QUERIES:
                verified[q] = [int(rnd) if rnd == int(rnd) else rnd,
                               digests[q]]
    return "{\n" + ",\n".join(
        f" {json.dumps(q)}: {json.dumps(verified[q])}"
        for q in sorted(verified)) + "\n}\n"


def record() -> None:
    text = recorded()
    with open(os.path.join(REPO, "VERIFIED.json"), "w") as fh:
        fh.write(text)
    print(f"VERIFIED.json: {len(json.loads(text))} queries")


def unrecorded(verified: dict[str, list]) -> str | None:
    """The newest artifact, when ``verified`` stops before its round."""
    arts = artifacts()
    rec = max((r for r, _ in verified.values()), default=0)
    if arts and math.ceil(rec) != arts[-1][0]:
        return arts[-1][1]
    return None


def show(window: int) -> None:
    from gasket_spark.queries import (
        DIGESTS, QUERIES, _verified, verification_key)

    verified = _verified()
    key = verification_key(verified, DIGESTS)
    names = list(QUERIES)
    tiers = Counter(key(n)[0] for n in names)
    print(f"registry: {len(names)} queries; window = first {window}")
    print(f"tier 0 (no green): {tiers[0]}, tier 1 (changed since "
          f"green): {tiers[1]}, tier 2 (fresh): {tiers[2]}\n")
    print(f"projected window ({window}):")
    for i, n in enumerate(names[:window]):
        tier, rnd = key(n)
        print(f"  {i + 1:>3} {n}  (tier {tier}, round {rnd})")
    outside = [n for n in names[window:] if key(n)[0] < 2]
    if outside:
        print(f"\nWARNING: {len(outside)} unverified or changed "
              f"queries fall OUTSIDE the window: {outside}")
    newest = unrecorded(verified)
    if newest:
        print(f"\nWARNING: VERIFIED.json predates {newest}: run "
              "`python tools/windowcheck.py record`")


def main() -> None:
    if sys.argv[1:] == ["record"]:
        record()
    else:
        show(int(sys.argv[1]) if len(sys.argv) > 1 else WINDOW)


if __name__ == "__main__":
    main()
