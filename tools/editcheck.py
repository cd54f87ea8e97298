"""Audit the round's diff against the _EDITED_R* demotion discipline.

The window rule: every query whose implementation, oracle, or shared
helper changed this round must be demoted (rank < 2) so a STALE green
driver row can never certify NEW code. That mapping has been manual —
this tool derives it from git:

1. diff BASE..HEAD over ``gasket_spark/`` (new-side line numbers),
2. map changed lines to enclosing top-level functions via ast
   (decorators included, so oracle-string edits inside ``@query(...)``
   count as edits of the query they decorate),
3. changed ``q_*`` functions are directly affected; the changed
   helper functions/classes are first closed over every top-level
   ``gasket_spark/`` def that references one of them (to a fixed
   point: a helper reached through another helper still counts), and
   every ``q_*`` whose body references a name in that closure is
   affected (see :func:`affected_queries`),
4. compare against the projected demoted/new set (rank < 2 from
   ``_signal_rank``) and FAIL (exit 1) on any affected query that a
   stale green would certify.

BASE defaults to the last commit touching the newest committed
CORRECTNESS_r*.json — the previous round's close. Changes to
``queries/__init__.py`` (the demotion lists themselves), tests and
tools are ignored. Wide-blast helpers (io.py, session.py, utils.py)
would flag the whole registry, which is noise — they are reported as
a WARNING for human judgment instead of exploded into 200 rows.

A query is EXPOSED when it is affected but its projected window
position is past the driver's ~50-query window — then only a stale
green vouches for it. Affected queries inside the window (demoted,
new, or simply due for rotation) are fine: the driver re-verifies
them this round regardless of why they are there.

``--ack q_a,q_b`` records a deliberate exception — an affected
query judged semantic-preserving (e.g. a helper's caching mechanics
changed but its computed values did not) and verified by the local
sweeps instead. Acks print loudly so the judgment is visible.

Usage: python tools/editcheck.py [base_ref] [--ack q_a,q_b]
                                 [--window N]
"""

from __future__ import annotations

import ast
import os
import re
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# helpers whose blast radius is "everything" — warn, don't enumerate
GLOBAL_HELPERS = {"gasket_spark/io.py", "gasket_spark/session.py",
                  "gasket_spark/utils.py"}


def _git(*args: str) -> str:
    return subprocess.run(["git", *args], cwd=REPO, check=True,
                          capture_output=True, text=True).stdout


def default_base() -> str:
    arts = sorted(a for a in _git("ls-files").splitlines()
                  if re.fullmatch(r"CORRECTNESS_r\d+\.json", a))
    if not arts:
        return "HEAD"
    return _git("log", "-1", "--format=%H", "--", arts[-1]).strip()


def base_round(base: str) -> float:
    """Newest CORRECTNESS round present in the BASE commit's tree.

    _signal_rank() reads artifacts from DISK (including an untracked
    end-of-round drop), so in the transient state where
    CORRECTNESS_r{N}.json exists but is uncommitted, ranks carry
    round-N greens while the diff base predates round N's edits —
    every round-N-certified edit would read as an EXPOSED stale
    green. A query whose latest green round is NEWER than the base
    tree's newest artifact was certified by a driver run that
    postdates (and saw) the diffed edits — exempt it (tagged CERT)."""
    try:
        names = _git("ls-tree", "--name-only", base).splitlines()
    except subprocess.CalledProcessError:
        return float("inf")  # unknown base tree: never exempt
    rounds = [int(m.group(1)) for n in names
              if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", n))]
    # a base tree with ZERO artifacts (user-supplied ref predating
    # them all) must behave like the unknown-tree case: brnd=0.0
    # would silently exempt nearly every green (r9 advice)
    return float(max(rounds)) if rounds else float("inf")


def last_commit_ts(path: str) -> float:
    """Committer timestamp of the newest commit touching `path`
    (0.0 if never committed — e.g. a brand-new file)."""
    try:
        out = _git("log", "-1", "--format=%ct", "HEAD", "--", path)
        return float(out.strip() or 0.0)
    except subprocess.CalledProcessError:  # pragma: no cover
        return 0.0


def artifact_certify_ts(rnd: float) -> float:
    """Trustworthy timestamp of the CORRECTNESS artifact for the
    round that PRODUCED rank `rnd` (-inf if absent — never exempt on
    a missing artifact). Rows-only passes carry fractional rank N−0.5
    but were produced by the round-N artifact, so round UP — int()
    would consult round N−1, either flagging a legitimately certified
    query or exempting on an artifact that never saw the edit.

    Timestamp source (r11 advice — wall-clock mtime alone is
    forgeable by any single-file restore: `git checkout -- f`, a
    branch switch, or `cp` refreshes one artifact's mtime to NOW and
    would silently CERT-exempt every edited query carrying that
    rank):

    * tracked and UNMODIFIED → the artifact's last COMMITTER
      timestamp. Artifacts are committed at round-open, BEFORE any
      same-round edits, so `commit_ts(artifact) >= commit_ts(edit)`
      holds exactly when the edit predates the certifying drop —
      and a checkout/cp refresh cannot move a commit timestamp.
    * tracked but locally MODIFIED → -inf (a hand-edited artifact
      must never certify anything).
    * untracked (the transient end-of-round drop, not yet committed)
      → fall back to mtime, still subject to the
      mtimes_untrustworthy() fresh-checkout tripwire."""
    import math

    rnd = math.ceil(rnd)
    p = os.path.join(REPO, f"CORRECTNESS_r{int(rnd):02d}.json")
    if not os.path.exists(p):
        p = os.path.join(REPO, f"CORRECTNESS_r{int(rnd)}.json")
    if not os.path.exists(p):
        return float("-inf")
    rel = os.path.relpath(p, REPO)
    try:
        _git("ls-files", "--error-unmatch", rel)
        tracked = True
    except subprocess.CalledProcessError:
        tracked = False
    if tracked:
        try:
            if _git("status", "--porcelain", "--", rel).strip():
                return float("-inf")
        except subprocess.CalledProcessError:  # pragma: no cover
            return float("-inf")
        return last_commit_ts(rel)
    try:
        return os.path.getmtime(p)
    except OSError:  # pragma: no cover
        return float("-inf")


def _artifact_committed(rnd: float) -> bool:
    """True when rank `rnd`'s artifact is a TRACKED file — its CERT
    timestamp then comes from git history and survives the
    fresh-checkout mtime tripwire."""
    import math

    rnd = math.ceil(rnd)
    p = os.path.join(REPO, f"CORRECTNESS_r{int(rnd):02d}.json")
    if not os.path.exists(p):
        p = os.path.join(REPO, f"CORRECTNESS_r{int(rnd)}.json")
    if not os.path.exists(p):
        return False
    try:
        _git("ls-files", "--error-unmatch", os.path.relpath(p, REPO))
        return True
    except subprocess.CalledProcessError:
        return False


def mtimes_untrustworthy() -> bool:
    """True when artifact mtimes carry no information — the fresh
    clone/checkout case, where EVERY file's mtime is checkout time:
    all CORRECTNESS artifacts share one mtime (±5 s) that postdates
    HEAD's commit. Trusting mtimes there would CERT-exempt
    everything, reopening exactly the hole the guard closes."""
    mts = []
    for n in os.listdir(REPO):
        if re.fullmatch(r"CORRECTNESS_r\d+\.json", n):
            try:
                mts.append(os.path.getmtime(os.path.join(REPO, n)))
            except OSError:
                pass
    if len(mts) < 2:
        return False
    try:
        head_ts = float(_git("log", "-1", "--format=%ct").strip())
    except (subprocess.CalledProcessError, ValueError):
        return True
    return max(mts) - min(mts) < 5.0 and min(mts) > head_ts


def changed_lines(base: str) -> dict[str, list[tuple[int, int]]]:
    """path -> new-side (start, end) hunks, from a zero-context diff."""
    out: dict[str, list[tuple[int, int]]] = {}
    path = None
    diff = _git("diff", "--unified=0", f"{base}..HEAD",
                "--", "gasket_spark")
    for line in diff.splitlines():
        if line.startswith("+++ b/"):
            path = line[6:]
        elif line.startswith("@@") and path:
            m = re.search(r"\+(\d+)(?:,(\d+))?", line)
            start = int(m.group(1))
            n = int(m.group(2)) if m.group(2) is not None else 1
            # pure deletions (n == 0) still touch the enclosing span
            out.setdefault(path, []).append((start, start + max(n, 1) - 1))
    return out


def _stripped_ast_dump(src: str, name: str) -> str | None:
    """ast.dump of top-level def/class ``name`` with every docstring
    removed — equal dumps mean the change cannot affect behavior."""
    try:
        tree = ast.parse(src)
    except SyntaxError:
        return None
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)) and node.name == name:
            for sub in [node, *ast.walk(node)]:
                # .body is a single expression on Lambda/IfExp nodes —
                # only statement LISTS can open with a docstring
                body = getattr(sub, "body", None)
                if (body and isinstance(body, list)
                        and isinstance(body[0], ast.Expr)
                        and isinstance(body[0].value, ast.Constant)
                        and isinstance(body[0].value.value, str)):
                    del body[0]
            return ast.dump(node, include_attributes=False)
    return None


def doc_only_change(base: str, path: str, name: str) -> bool:
    """True when def/class ``name`` in ``path`` differs between BASE
    and HEAD ONLY in docstrings — a comment-level edit that needs no
    window demotion (the r9 q_sim_ann precision-note case: correcting
    a docstring claim must not cost an r4 drain slot)."""
    try:
        old_src = _git("show", f"{base}:{path}")
    except subprocess.CalledProcessError:
        return False
    try:
        new_src = open(os.path.join(REPO, path), encoding="utf-8").read()
    except OSError:
        return False
    old = _stripped_ast_dump(old_src, name)
    new = _stripped_ast_dump(new_src, name)
    return old is not None and old == new


def top_level_spans(path: str) -> list[tuple[str, int, int]]:
    """(name, first_line, last_line) per top-level def/class at HEAD,
    decorators included."""
    with open(os.path.join(REPO, path), encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    spans = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            first = min([node.lineno]
                        + [d.lineno for d in node.decorator_list])
            spans.append((node.name, first, node.end_lineno))
    return spans


def module_defs() -> dict[str, set[str]]:
    """Top-level def/class name -> the names its code references
    (``Name`` ids and ``Attribute`` attrs, decorators included;
    docstrings and comments do not count), over every ``gasket_spark/``
    module except the registry ``queries/__init__.py``. A name defined
    in several modules gets the union."""
    defs: dict[str, set[str]] = {}
    root = os.path.join(REPO, "gasket_spark")
    for dirpath, _, files in sorted(os.walk(root)):
        for fn in sorted(files):
            path = os.path.join(dirpath, fn)
            if not fn.endswith(".py") or path.endswith("queries/__init__.py"):
                continue
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)):
                    defs.setdefault(node.name, set()).update(
                        n.id if isinstance(n, ast.Name) else n.attr
                        for n in ast.walk(node)
                        if isinstance(n, (ast.Name, ast.Attribute)))
    return defs


def affected_queries(changed: set[str],
                     defs: dict[str, set[str]]) -> dict[str, set[str]]:
    """q_* name -> the ``changed`` helper names it reaches. ``defs`` maps
    each top-level def to the identifiers it references
    (:func:`module_defs`). First close ``changed`` over the non-query
    defs that reference a name already in the set, up to a fixed point,
    then map every q_* def that references a name in the closure."""
    reach = {h: {h} for h in changed}       # name -> changed roots behind it
    grew = True
    while grew:
        grew = False
        for name, idents in defs.items():
            if name.startswith("q_"):
                continue
            roots = set().union(*(r for h, r in reach.items()
                                  if h != name and h in idents))
            if not roots <= reach.get(name, set()):
                reach.setdefault(name, set()).update(roots)
                grew = True
    out: dict[str, set[str]] = {}
    for q, idents in defs.items():
        if q.startswith("q_"):
            roots = set().union(*(r for h, r in reach.items()
                                  if h != q and h in idents))
            if roots:
                out[q] = roots
    return out


def main() -> None:
    args = sys.argv[1:]
    acks: set[str] = set()
    window = 50
    if "--ack" in args:
        i = args.index("--ack")
        acks = set(args[i + 1].split(","))
        del args[i:i + 2]
    if "--window" in args:
        i = args.index("--window")
        window = int(args[i + 1])
        del args[i:i + 2]
    base = args[0] if args else default_base()
    print(f"base: {base[:12]} .. HEAD\n")

    hunks = changed_lines(base)
    affected: dict[str, set[str]] = {}   # query -> reasons
    qpaths: dict[str, set[str]] = {}     # query -> changed paths behind it
    warnings: list[str] = []
    changed_helpers: list[tuple[str, str]] = []  # (name, path)

    for path, ranges in sorted(hunks.items()):
        if path.endswith("queries/__init__.py"):
            continue  # the demotion lists themselves
        if path in GLOBAL_HELPERS:
            warnings.append(f"global helper changed: {path} — every "
                            "query is downstream; judge the blast "
                            "radius by hand")
            continue
        if not os.path.exists(os.path.join(REPO, path)):
            warnings.append(f"deleted file: {path} — map by hand")
            continue
        spans = top_level_spans(path)
        doc_only_cache: dict[str, bool] = {}
        for start, end in ranges:
            hit = [s for s in spans if s[1] <= end and start <= s[2]]
            if not hit:
                continue  # module docstring / imports / constants…
            for name, _, _ in hit:
                if name not in doc_only_cache:
                    doc_only_cache[name] = doc_only_change(base, path,
                                                           name)
                if doc_only_cache[name]:
                    warnings.append(
                        f"doc-only change: {name} ({path}) — stripped "
                        "ASTs identical, exempt from demotion")
                    continue
                if name.startswith("q_"):
                    affected.setdefault(name, set()).add("direct edit")
                    qpaths.setdefault(name, set()).add(path)
                else:
                    changed_helpers.append((name, path))

    helper_paths: dict[str, set[str]] = {}
    for helper, path in changed_helpers:
        helper_paths.setdefault(helper, set()).add(path)
    users = affected_queries(set(helper_paths), module_defs())
    for helper in sorted(helper_paths.keys()
                         - set().union(*users.values())):
        warnings.append(f"changed helper {helper} "
                        f"({', '.join(sorted(helper_paths[helper]))}) "
                        "reaches no q_* query — check by hand")
    for q, roots in users.items():
        for helper in roots:
            affected.setdefault(q, set()).add(f"reaches {helper}")
            qpaths.setdefault(q, set()).update(helper_paths[helper])

    from gasket_spark.queries import QUERIES, _signal_rank
    rank = _signal_rank()
    pos = {n: i + 1 for i, n in enumerate(QUERIES)}  # registration order
    brnd = base_round(base)
    in_window = {q for q in affected if pos.get(q, 10 ** 9) <= window}
    # CERT exemption: rank > brnd alone is NOT enough — an edit
    # committed AFTER the round-N driver drop still carries rank N
    # (r9 advice). Require the artifact that certifies rank N to be
    # NEWER than the last commit touching every changed path behind
    # the query, so the certifying run provably saw the edits — with
    # the timestamp drawn from git history for committed artifacts
    # (r11 advice: a single-file restore refreshes an mtime to NOW
    # and would exempt everything carrying that rank; commit
    # timestamps can't be refreshed by checkout/cp).
    certified = set()
    mtime_blind = mtimes_untrustworthy()
    if mtime_blind:
        warnings.append(
            "artifact mtimes look like a fresh checkout (all equal, "
            "newer than HEAD) — mtime-based CERT (uncommitted "
            "artifacts) disabled this run")
    for q in affected:
        if q in in_window or rank.get(q, 0.0) <= brnd:
            continue
        ts = artifact_certify_ts(rank[q])
        if mtime_blind and ts != float("-inf") and not _artifact_committed(
                rank[q]):
            continue
        paths = qpaths.get(q)
        if paths and ts >= max(last_commit_ts(p) for p in paths):
            certified.add(q)
    exposed = {q for q in affected
               if q in pos and q not in in_window
               and q not in certified and q not in acks}

    print(f"affected queries: {len(affected)} "
          f"(in r-window: {len(in_window)}, post-base-certified: "
          f"{len(certified)}, acked: "
          f"{len(acks & set(affected))}, EXPOSED: {len(exposed)})")
    for q in sorted(affected):
        tag = ("ok " if q in in_window
               else "CERT" if q in certified
               else "ACK" if q in acks
               else "?? " if q not in pos else "BAD")
        print(f"  {tag} {q}  (window pos {pos.get(q, '—')}, rank "
              f"{rank.get(q, 0.0)}) — {'; '.join(sorted(affected[q]))}")
    for q in sorted(acks - set(affected)):
        print(f"WARNING: --ack {q} matches no affected query")
    for w in warnings:
        print(f"WARNING: {w}")
    if exposed:
        print(f"\nFAIL: {len(exposed)} changed quer"
              f"{'y' if len(exposed) == 1 else 'ies'} outside the "
              f"{window}-query window and unacked — a stale green "
              f"would certify new code: {sorted(exposed)}")
        sys.exit(1)
    print("\nclean: every changed query is inside the window or "
          "explicitly acked")


if __name__ == "__main__":
    main()
