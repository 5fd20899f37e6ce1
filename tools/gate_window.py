#!/usr/bin/env python
"""Generate the driver-gate window from evidence, not hand-curation.

The driver grades the FIRST 50 entries of ``__spark_entry__.queries()``
each round. This tool computes which 50 carry the highest drift risk:

  1. entries NEVER driver-graded (no row in any CORRECTNESS_r*.json),
     oldest-registered first;
  2. entries whose code path changed since their LAST driver grading —
     detected by fingerprinting each entry (its function source, its
     oracle SQL, and the source of every ``alias.helper(...)`` it calls
     into the mktd6_flink_spark helper modules) at HEAD and at a given
     git rev (a temporary worktree; the registry is importable without
     starting a JVM), staler-last-grading first;
  3. fill with the stalest still-green entries if slots remain.

Usage:
  python tools/gate_window.py --dump                # fingerprint JSON
  python tools/gate_window.py --changed-since REV   # changed entries
  python tools/gate_window.py --window [--since REV]  # emit the window

``--window`` prints a ready-to-paste Python list; _GATE_PRIORITY in
plans/driver_queries.py is its committed output (see the r9 comment).

Limitations (documented, not hidden): helper-of-helper changes are
invisible unless they alter the generated oracle SQL (they usually do —
the SQL twins are built from the same helpers); module-level constant
changes fingerprint only when referenced as ``alias.NAME``.

Round 14 closes the FUNCTION-BODY IMPORT blind spot (bit twice: the
r11 stateful.py rewrite and the r14 codec work — entries doing
``from .png import decode_png_gray`` inside the function body never
fingerprint-changed when png.py changed, forcing manual window adds):
any ``from ...X import`` / ``import ...X`` statement inside an
expanded source whose target resolves under mktd6_flink_spark now
folds that MODULE FILE's full text into the fingerprint (round 15:
import statements are AST-walked, not line-regexed, so parenthesized
and multiline forms fold too). Coarse (a comment edit in the module
re-fronts its importers) but safe — the failure mode is a wasted
gate slot, not a missed regrade.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import inspect
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_ALIAS_RE = re.compile(r"\b([A-Za-z_][A-Za-z0-9_]*)\.([A-Za-z_][A-Za-z0-9_]*)")
_NAME_RE = re.compile(r"\b([A-Za-z_][A-Za-z0-9_]*)\b")


def _body_imports(src: str) -> list[tuple[str, list[str]]]:
    """All import statements in ``src`` as (module, [names]) pairs —
    [] names means a bare module import. AST-walked, not a line regex
    (round 15: the r14 regex missed parenthesized / multiline
    ``from .png import (a,\\n b)`` forms, reopening the exact
    missed-regrade blind spot the fold exists to close). Relative
    modules are returned with their leading dots intact for the
    caller to resolve against the owning package."""
    import ast
    import textwrap

    try:
        tree = ast.parse(textwrap.dedent(src))
    except SyntaxError:
        return []
    out: list[tuple[str, list[str]]] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                out.append((a.name, []))
        elif isinstance(node, ast.ImportFrom):
            mod = "." * node.level + (node.module or "")
            out.append((mod, [a.name for a in node.names]))
    return out


def _is_ours(mod) -> bool:
    return (inspect.ismodule(mod)
            and getattr(mod, "__name__", "").startswith("mktd6_flink_spark"))


def _expand(obj, owner_mod, parts: list[str], visited: set, depth: int):
    """Append obj's source, then recurse into the mktd6 helpers IT
    references — alias.attr across modules, bare names within its own
    module (pq_adc_topk -> pq_codes) — to a bounded depth."""
    key = id(obj)
    if key in visited or depth > 4:
        return
    visited.add(key)
    if callable(obj):
        try:
            src = inspect.getsource(obj)
        except (OSError, TypeError):
            parts.append(repr(obj))
            return
        parts.append(src)
    else:
        parts.append(repr(obj))
        return
    scope = vars(owner_mod)
    for alias, attr in sorted(set(_ALIAS_RE.findall(src))):
        target = scope.get(alias)
        if _is_ours(target):
            child = getattr(target, attr, None)
            if child is not None:
                _expand(child, target, parts, visited, depth + 1)
    for bare in sorted(set(_NAME_RE.findall(src))):
        child = scope.get(bare)
        if (inspect.isfunction(child)
                and getattr(child, "__module__", "")
                .startswith("mktd6_flink_spark")):
            _expand(child, sys.modules.get(child.__module__, owner_mod),
                    parts, visited, depth + 1)
    # a factory-made entry (``_stream_twin``) shares one source: its
    # pipeline and sink live in the closure
    for cell in getattr(inspect.unwrap(obj), "__closure__", None) or ():
        child = cell.cell_contents
        if (callable(child) and getattr(child, "__module__", "")
                .startswith("mktd6_flink_spark")):
            _expand(child, sys.modules.get(child.__module__, owner_mod),
                    parts, visited, depth + 1)
    _fold_body_imports(src, owner_mod, parts, visited, depth)


def _fold_body_imports(src, owner_mod, parts, visited, depth):
    """Close the function-body import blind spot: resolve every
    ``from ...X import a, b`` / ``import mktd6...X`` statement found in
    an expanded source. Imported CALLABLES expand transitively (their
    own helpers fingerprint too), imported MODULES fold their full file
    text, anything else folds by repr."""
    import importlib

    pkg = getattr(owner_mod, "__package__", None) or owner_mod.__name__
    for from_mod, nms in _body_imports(src):
        if from_mod.startswith("."):
            try:
                base = importlib.util.resolve_name(from_mod, pkg)
            except (ImportError, ValueError):
                continue
        else:
            base = from_mod
        if not base.startswith("mktd6_flink_spark"):
            continue
        try:
            mod = importlib.import_module(base)
        except ImportError:
            continue
        if not nms:
            key = ("import", base)
            if key not in visited:
                visited.add(key)
                try:
                    parts.append(inspect.getsource(mod))
                except (OSError, TypeError):
                    pass
            continue
        for nm in nms:
            obj = getattr(mod, nm, None)
            if obj is None:
                # ``from . import png``: the package attribute exists
                # only AFTER the submodule's first import, so a getattr
                # miss here made the fold depend on import history
                # (non-deterministic across calls in one process —
                # caught by test_gate_registry). Import it explicitly.
                try:
                    obj = importlib.import_module(f"{base}.{nm}")
                except ImportError:
                    continue
            if inspect.ismodule(obj):
                if not _is_ours(obj):
                    continue
                key = ("import", obj.__name__)
                if key not in visited:
                    visited.add(key)
                    try:
                        parts.append(inspect.getsource(obj))
                    except (OSError, TypeError):
                        pass
            elif callable(obj):
                _expand(obj, mod, parts, visited, depth + 1)
            else:
                parts.append(f"{base}.{nm}={obj!r}")


def _canon(src: str) -> str:
    """Behavior-canonical form of a python source part: parse to AST
    and dump (comments vanish structurally), stripping docstrings
    (first-statement string constants) — so a comment- or
    docstring-only edit to a widely-imported helper (the r14 cache.py
    case) does not flood every entry's fingerprint. Non-parseable
    parts (oracle SQL, reprs, snippets) hash as raw text."""
    import ast
    import textwrap

    try:
        tree = ast.parse(textwrap.dedent(src))
    except SyntaxError:
        return src
    for node in ast.walk(tree):
        body = getattr(node, "body", None)
        if (isinstance(body, list) and body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)):
            body[0].value.value = ""
    return ast.dump(tree)


def _entry_fingerprints() -> dict[str, str]:
    """name -> sha256 over (function source, oracle SQL, and the
    transitively-referenced mktd6 helper sources), each part
    behavior-canonicalized by ``_canon``."""
    from mktd6_flink_spark.plans import driver_queries as dq

    out = {}
    for name, fn in dq.QUERIES.items():
        parts: list[str] = []
        _expand(fn, dq, parts, set(), 0)
        parts.append(dq.ORACLES.get(name, ""))
        out[name] = hashlib.sha256(
            "\x00".join(_canon(p) for p in parts).encode()).hexdigest()
    return out


def _fingerprints_at(rev: str) -> dict[str, str]:
    """Fingerprints of the registry as of ``rev`` via a temp worktree."""
    wt = os.path.join(REPO, ".gate_window_worktree")
    subprocess.run(["git", "worktree", "remove", "--force", wt],
                   cwd=REPO, capture_output=True)
    subprocess.run(["git", "worktree", "add", "--detach", wt, rev],
                   cwd=REPO, check=True, capture_output=True)
    try:
        # older revs may predate this tool — always run the CURRENT
        # fingerprint code against the old worktree's registry
        os.makedirs(os.path.join(wt, "tools"), exist_ok=True)
        with open(os.path.abspath(__file__)) as f_src, \
                open(os.path.join(wt, "tools", "gate_window.py"),
                     "w") as f_dst:
            f_dst.write(f_src.read())
        proc = subprocess.run(
            [sys.executable, os.path.join("tools", "gate_window.py"),
             "--dump"],
            cwd=wt, capture_output=True, text=True, check=True)
        return json.loads(proc.stdout)
    finally:
        subprocess.run(["git", "worktree", "remove", "--force", wt],
                       cwd=REPO, capture_output=True)


def _last_graded() -> dict[str, int]:
    """name -> latest round with a driver row in CORRECTNESS_r*.json."""
    last: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r0*(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            rows = json.load(open(path))
        except (OSError, json.JSONDecodeError):
            continue
        for name in rows:
            last[name] = max(last.get(name, 0), rnd)
    return last


def changed_since(rev: str) -> list[str]:
    cur = _entry_fingerprints()
    old = _fingerprints_at(rev)
    return [n for n, h in cur.items() if old.get(n) != h]


def build_window(size: int, rev: str | None) -> tuple[list[str], dict]:
    """Round 15 policy change: UNIFIED stalest-first. The r14 policy
    front-loaded every changed-fingerprint entry before any stale
    fill, which let a large changed cohort (one shared-module edit
    re-fronts every importer) crowd out entries whose last driver
    grade is many rounds old — the r14 verdict's top task was exactly
    that backlog, with the instruction "if a changed cohort preempts,
    stalest-first". Now: never-graded entries front (oldest
    registration first), then ALL remaining entries ordered by last
    driver grade ascending, with changed-ness only breaking ties
    within the same round. A recently-graded changed entry waits
    (pytest + unchanged oracles cover the interim); a stale unchanged
    entry gets the external driver row it has lacked longest. The
    deferred changed cohort is reported so the next round can
    re-front it.

    STALENESS CEILING (round 17, a generator assertion instead of a
    per-round manual policy): with the driver grading ``size`` (50)
    entries per round, a registry of N entries cycles every
    ceil(N / 50) rounds under stalest-first — 6 rounds at N <= 300 —
    but each round some slots go to never-graded adds and
    verdict-named changed cohorts (both bounded ~10/round), so the
    enforceable ceiling is that cycle length PLUS one round of
    displacement slack = 7. Concretely at round 17 (the committed
    window, after the late BMP/TIFF/AIFF additions): 10 never-graded
    + 10 named + ALL 30 r9-graded saturate the 50 slots, so all 20
    r10-graded entries are left out at exactly 7 rounds stale and
    must LEAD r18's fills (the r16 verdict's done-criterion is "zero
    entries last-graded <= r9", i.e. leftover age 7 is the designed
    steady state, not drift). The generation ASSERTS the invariant:
    if any already-graded entry would be left outside the window
    with a grade more than 7 rounds older than the round being
    generated, the registry has structurally outgrown the window —
    generation fails loudly (raise size or retire entries) rather
    than silently deferring it."""
    from mktd6_flink_spark.plans import driver_queries as dq

    names = list(dq.QUERIES)
    last = _last_graded()
    never = [n for n in names if n not in last]
    changed = set(changed_since(rev)) if rev else set()
    window = list(never[:size])
    rest = [n for n in names if n in last]
    rest.sort(key=lambda n: (last[n], n not in changed))
    for n in rest:
        if len(window) >= size:
            break
        window.append(n)
    cur_round = max(last.values(), default=0) + 1
    stale_out = [(n, last[n]) for n in rest
                 if n not in window and cur_round - last[n] > 7]
    if stale_out:
        raise RuntimeError(
            f"staleness ceiling violated: {len(stale_out)} entries "
            f"would leave round {cur_round} with a grade > 7 rounds "
            f"old (registry has outgrown the {size}-slot window — "
            f"raise size or retire entries): {stale_out[:10]}")
    info = {
        "never_graded": never,
        "deferred_never_graded": never[size:],
        "changed_since_rev": sorted(changed),
        "changed_and_windowed": sorted(
            n for n in changed if n in window),
        "changed_deferred": sorted(
            n for n in changed if n in last and n not in window),
        "stale_not_windowed": [
            (n, last[n]) for n in rest if n not in window][:25],
    }
    return window, info


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dump", action="store_true",
                    help="print {entry: fingerprint} JSON and exit")
    ap.add_argument("--changed-since", metavar="REV",
                    help="list entries whose fingerprint differs vs REV")
    ap.add_argument("--window", action="store_true",
                    help="emit the proposed gate window")
    ap.add_argument("--since", metavar="REV", default=None,
                    help="rev for --window's changed-entry detection")
    ap.add_argument("--size", type=int, default=50)
    args = ap.parse_args(argv)

    if args.dump:
        print(json.dumps(_entry_fingerprints(), indent=0))
        return 0
    if args.changed_since:
        for n in changed_since(args.changed_since):
            print(n)
        return 0
    if args.window:
        window, info = build_window(args.size, args.since)
        print("# generated by tools/gate_window.py --window"
              + (f" --since {args.since}" if args.since else "")
              + "  (unified stalest-first, r15 policy)")
        print(f"# never-graded: {len(info['never_graded'])}"
              f" (deferred: {info['deferred_never_graded']})")
        if args.since:
            print(f"# changed since {args.since} and windowed: "
                  f"{info['changed_and_windowed']}")
            print(f"# changed but DEFERRED (recently graded; re-front "
                  f"next round): {info['changed_deferred']}")
        print(f"# stalest entries left outside the window: "
              f"{info['stale_not_windowed']}")
        print("_GATE_PRIORITY = [")
        for n in window:
            print(f'    "{n}",')
        print("]")
        return 0
    ap.print_help()
    return 2


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
