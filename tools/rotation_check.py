"""Grading-window rotation helper + changed-code regrade emitter.

The correctness driver grades only the FIRST 50 registry entries per
round. This tool:

1. (default) reports, across all CORRECTNESS_r*.json files, which
   queries have a fully-green row somewhere (via the single shared
   classifier `api.classify_verdict`), which failed, and which have
   never been graded — i.e. the set that must rotate to the front of
   the window next round (grading_window() in api.py does this
   automatically; padding comes from `_RECONFIRM` there).

2. (--emit-regrade) maps the git diff since the last grading commit
   (the newest commit touching CORRECTNESS_r*.json, or --since REF)
   to changed top-level names, follows them through every module that
   imports a changed one (transitively), then to registered queries
   via QuerySpec.module, and writes the must-regrade list to REGRADE.json
   at the repo root. api.grading_window() inserts those names right
   after the never-graded/red set — so a changed code path can no
   longer keep a stale green (r4 VERDICT #4). Run this before the
   end-of-round commit.

Usage:
    python tools/rotation_check.py
    python tools/rotation_check.py --emit-regrade [--since REF]
"""

from __future__ import annotations

import ast
import glob
import inspect
import json
import os
import re
import subprocess
import sys
import textwrap

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

_PKG = "etl_portfolio_project_spark"

#: Package files whose changes can affect EVERY query (shared infra) —
#: mapping them to "all 180 regrade" would be useless with a 50-slot
#: window, so they are reported as a warning for manual judgement
#: instead of expanding the regrade list. Listed EXPLICITLY (r5 advice:
#: a blanket `sources/` prefix exempted sources/pyds.py — which OWNS
#: two registered queries — from the changed-code regrade map).
_INFRA_PREFIXES = (
    f"{_PKG}/session.py",
    f"{_PKG}/caches.py",
    f"{_PKG}/tmpdirs.py",
    f"{_PKG}/sources/registry.py",
    f"{_PKG}/sources/files.py",
    f"{_PKG}/sources/views.py",
    f"{_PKG}/sources/__init__.py",
)


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=_REPO, capture_output=True, text=True, check=True
    ).stdout.strip()


def last_grading_commit() -> str:
    """Newest commit touching any CORRECTNESS_r*.json — the point the
    driver last graded, i.e. the natural diff base for 'what changed
    since my greens were earned'."""
    out = _git("log", "-1", "--format=%H", "--", "CORRECTNESS_r*.json")
    return out or _git("rev-list", "--max-parents=0", "HEAD")


def changed_package_files(base: str) -> list[str]:
    """Package .py files differing between BASE and the working tree
    (committed + staged + unstaged), plus untracked ones."""
    diff = _git("diff", "--name-only", base, "--", _PKG).splitlines()
    untracked = _git(
        "ls-files", "--others", "--exclude-standard", "--", _PKG
    ).splitlines()
    return sorted(
        {p for p in diff + untracked if p.endswith(".py")}
    )


def file_to_module(path: str) -> str:
    return path[: -len(".py")].replace("/", ".")


def _toplevel_defs(tree: ast.Module):
    """(name, node) for each top-level def, class and assignment to a
    plain name."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            yield node.name, node
        elif isinstance(node, ast.Assign):
            for t in node.targets:
                if isinstance(t, ast.Name):
                    yield t.id, node
        elif isinstance(node, ast.AnnAssign) and isinstance(
            node.target, ast.Name
        ):
            yield node.target.id, node


def changed_toplevel_names(base: str, path: str) -> set[str] | None:
    """Top-level def/class/assignment names in `path` whose line spans
    overlap the diff vs BASE (working-tree side). None = can't resolve
    (file deleted, unparseable, binary diff) → caller falls back to
    whole-module granularity."""
    try:
        diff = _git("diff", "-U0", base, "--", path)
        src = open(os.path.join(_REPO, path)).read()
        tree = ast.parse(src)
    except (subprocess.CalledProcessError, OSError, SyntaxError):
        return None
    ranges: list[tuple[int, int]] = []
    for m in re.finditer(r"^@@ .* \+(\d+)(?:,(\d+))? @@", diff, re.M):
        start = int(m.group(1))
        count = int(m.group(2)) if m.group(2) is not None else 1
        # a pure deletion (count 0) still touches the surrounding span
        ranges.append((start, start + max(count, 1) - 1))
    if not ranges:
        return set()
    return {
        name for name, node in _toplevel_defs(tree)
        if any(a <= node.end_lineno and node.lineno <= b for a, b in ranges)
    }


def module_importers(changed_module: str) -> set[str]:
    """Package modules whose source imports from `changed_module`
    directly (`from .x.mod import ...`, `from .x import mod`)."""
    short = changed_module.rsplit(".", 1)[-1]
    pat = (
        rf"from\s+\.+[\w.]*\b{short}\b\s+import"
        rf"|from\s+\.+[\w.]*\s+import\s+(?:\([^)]*|[^\n]*)\b{short}\b"
    )
    out: set[str] = set()
    for root, _dirs, files in os.walk(os.path.join(_REPO, _PKG)):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(root, fname), _REPO)
            try:
                src = open(os.path.join(_REPO, rel)).read()
            except OSError:
                continue
            if re.search(pat, src):
                out.add(file_to_module(rel.replace(os.sep, "/")))
    out.discard(changed_module)
    return out


def module_to_file(module: str) -> str:
    return module.replace(".", "/") + ".py"


def _identifiers(node) -> set[str]:
    """Names a node's code refers to: `Name` ids (f-string `{NAME}`
    fields included) and `Attribute` attrs. Words that appear only in
    a string, docstring or comment are not references."""
    return {
        sub.id if isinstance(sub, ast.Name) else sub.attr
        for sub in ast.walk(node)
        if isinstance(sub, (ast.Name, ast.Attribute))
    }


def _toplevel_references(path: str) -> dict[str, set[str]] | None:
    """Top-level def/class/assignment name → the identifiers its code
    refers to."""
    try:
        tree = ast.parse(open(os.path.join(_REPO, path)).read())
    except (OSError, SyntaxError):
        return None
    return {name: _identifiers(node) for name, node in _toplevel_defs(tree)}


def referencing_names(path: str, names: set[str]) -> set[str]:
    """Top-level names in `path` whose code refers to one of `names`."""
    refs = _toplevel_references(path) or {}
    return {nm for nm, used in refs.items() if used & names}


def expand_within_module(path: str, names: set[str]) -> set[str]:
    """Fixpoint: a module-level def/constant whose code refers to a
    changed name is itself changed (helpers and generated *_SQL
    constants propagate to their consumers)."""
    refs = _toplevel_references(path)
    if refs is None:
        return names
    out = set(names)
    while True:
        grew = {nm for nm, used in refs.items() if nm not in out and used & out}
        if not grew:
            return out
        out |= grew


def changed_by_module(module: str, names: set[str]) -> dict[str, set[str]]:
    """module → changed top-level names, starting from `names` changed
    in `module` and following the importing chain transitively: in each
    module that imports a changed module, the top-level names that
    reference one of its changed names are changed, expanded within
    that module (so `schedule.monthly_schedule` reaches
    `loan_pipeline.loan_monthly_schedule` and from there
    `api.q_loan_monthly_schedule`)."""
    out = {module: expand_within_module(module_to_file(module), names)}
    todo = [module]
    while todo:
        mod = todo.pop()
        for dep in module_importers(mod):
            path = module_to_file(dep)
            seeds = referencing_names(path, out[mod])
            if not seeds:
                continue
            grown = expand_within_module(path, seeds | out.get(dep, set()))
            if grown != out.get(dep):
                out[dep] = grown
                todo.append(dep)
    return out


def _builder_identifiers(spec) -> set[str]:
    """Identifiers the registered builder's code refers to."""
    try:
        src = inspect.getsource(spec.raw or spec.builder)
        return _identifiers(ast.parse(textwrap.dedent(src)))
    except (OSError, TypeError, SyntaxError):
        return set()


def queries_reaching(
    changed: dict[str, set[str]], oracle_const: dict[str, str]
) -> set[str]:
    """Registered queries whose builder or oracle constant is a changed
    name of the builder's module, or whose builder code refers to
    one."""
    from etl_portfolio_project_spark import api

    out: set[str] = set()
    for n, s in api.REGISTRY.items():
        names = changed.get(s.module)
        if not names:
            continue
        if (
            getattr(s.raw, "__name__", "") in names
            or oracle_const.get(n) in names
            or _builder_identifiers(s) & names
        ):
            out.add(n)
    return out


def oracle_constants() -> dict[str, str]:
    """Query name → oracle-SQL constant, parsed from api.py's
    registration tuples ("q_name", MOD.fn, MOD.SOME_SQL, ...), so a
    changed SQL builder regrades its query even though the builder fn
    didn't move."""
    api_src = open(os.path.join(_REPO, _PKG, "api.py")).read()
    return {
        m.group(1): m.group(2)
        for m in re.finditer(
            r'\(\s*"([a-z0-9_]+)",\s*[A-Za-z_][\w.]*,\s*'
            r'(?:[A-Za-z_][\w]*\.)?([A-Z][A-Z_0-9]*SQL)',
            api_src,
        )
    }


def _strip_docstrings(node) -> None:
    for sub in ast.walk(node):
        if isinstance(
            sub,
            (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef, ast.Module),
        ):
            body = getattr(sub, "body", [])
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                sub.body = body[1:] or [ast.Pass()]


def material_from_sources(
    old_src: str, new_src: str, names: set[str]
) -> set[str]:
    """Pure core of `material_names` (unit-testable): the subset of
    `names` whose top-level AST — docstrings stripped, comments never
    in the AST — differs between the two sources. Unparseable versions
    degrade to 'everything material' (conservative)."""

    def spans(src: str) -> dict[str, str] | None:
        try:
            tree = ast.parse(src)
        except SyntaxError:
            return None
        out: dict[str, str] = {}
        for name, node in _toplevel_defs(tree):
            _strip_docstrings(node)
            out[name] = ast.dump(node)
        return out

    so, sn = spans(old_src), spans(new_src)
    if so is None or sn is None:
        return set(names)
    return {n for n in names if so.get(n) != sn.get(n)}


def material_names(base: str, path: str, names: set[str]) -> set[str]:
    """Subset of changed top-level `names` whose AST actually differs
    from the base commit (see `material_from_sources`). A docstring/
    comment-only edit is COSMETIC: its regrades rank after material
    ones, so a refactored execution path never loses its window slot
    to a reworded docstring."""
    old = subprocess.run(
        ["git", "show", f"{base}:{path}"],
        capture_output=True,
        text=True,
        cwd=_REPO,
    ).stdout
    try:
        new = open(os.path.join(_REPO, path)).read()
    except OSError:
        return set(names)
    return material_from_sources(old, new, names)


def emit_regrade(base: str | None) -> int:
    from etl_portfolio_project_spark import api

    base = base or last_grading_commit()
    files = changed_package_files(base)
    infra = [f for f in files if f.startswith(_INFRA_PREFIXES)]
    code_files = [
        f for f in files
        if f not in infra and not f.endswith("__init__.py")
    ]
    oracle_const = oracle_constants()

    queries: set[str] = set()
    material: set[str] = set()
    direct: set[str] = set()
    for f in code_files:
        mod = file_to_module(f)
        names = changed_toplevel_names(base, f)
        if names is None:
            # can't localize → whole-module fallback (material:
            # conservative)
            whole = {
                n for n, s in api.REGISTRY.items() if s.module == mod
            }
            queries |= whole
            material |= whole
            continue
        if not names:
            continue
        mat_seed = material_names(base, f, names)
        queries |= queries_reaching(changed_by_module(mod, names), oracle_const)
        if mat_seed:
            material |= queries_reaching(
                changed_by_module(mod, mat_seed), oracle_const
            )
        # direct: the builder/oracle ITSELF was edited (not just a
        # helper it references) — highest regrade priority
        direct |= {
            n for n, s in api.REGISTRY.items()
            if s.module == mod and (
                getattr(s.raw, "__name__", "") in mat_seed
                or oracle_const.get(n) in mat_seed
            )
        }

    # Priority tiers when the window overflows: (1) builders/oracles
    # EDITED IN PLACE with a material (docstring-stripped) AST change,
    # (2) other material changes (helper propagation, whole-module
    # fallbacks), (3) cosmetic-only (docstring/comment edits) — each
    # tier in registration order. A refactored execution path never
    # loses its window slot to a reworded docstring or to a query that
    # merely imports a changed helper.
    order = {n: i for i, n in enumerate(api.REGISTRY)}

    def tier(n: str) -> int:
        if n in direct and n in material:
            return 0
        if n in material:
            return 1
        return 2

    queries = sorted(queries, key=lambda n: (tier(n), order[n]))
    carried: list[str] = []
    if "--carry-prior" in sys.argv:
        # Union in the PRIOR round's regrade queue minus what the
        # latest grading actually covered: the 50-slot window can
        # leave queued regrades ungraded for a round, and a fresh
        # --emit-regrade (whose base is the newest grading commit)
        # would silently DROP them — their greens would stay stale
        # forever. The leftovers rank after this round's own changes
        # (they have waited a round already and their code is older).
        prior_commit = last_grading_commit()
        try:
            prior = json.loads(
                _git("show", f"{prior_commit}:REGRADE.json")
            ).get("queries", [])
        except subprocess.CalledProcessError:
            prior = []
        latest = sorted(
            glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json"))
        )
        graded_latest: set[str] = set()
        if latest:
            with open(latest[-1]) as f:
                graded_latest = set(json.load(f))
        carried = [
            n for n in prior
            if n in api.REGISTRY
            and n not in graded_latest
            and n not in queries
        ]
        queries = queries + carried
    payload = {
        "base": base,
        "changed_files": files,
        "infra_changed": infra,
        "queries": queries,
        "carried_from_prior": carried,
        "direct_material": sorted(
            (direct & material), key=order.__getitem__
        ),
        "cosmetic_only": sorted(
            (set(queries) - material - set(carried)),
            key=order.__getitem__,
        ),
    }
    out = os.path.join(_REPO, "REGRADE.json")
    with open(out, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"base: {base[:12]}  changed package files: {len(files)}  "
          f"→ regrade {len(queries)} queries → REGRADE.json")
    if infra:
        print("WARNING: shared-infra files changed — their blast radius is "
              "every query; review and pad _RECONFIRM manually if needed:")
        for f_ in infra:
            print("  ", f_)
    never_or_red = len(
        [n for n in api.REGISTRY if n not in api._graded_verdicts()[0]]
    )
    if never_or_red + len(queries) > 50:
        print(f"WARNING: never-graded/red ({never_or_red}) + regrades "
              f"({len(queries)}) exceed the 50-slot window — the overflow "
              "waits a round.")
    return 0


def main() -> int:
    from etl_portfolio_project_spark import api

    green: set[str] = set()
    rows_only: set[str] = set()
    failed: dict[str, str] = {}
    graded: set[str] = set()
    for path in sorted(glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json"))):
        with open(path) as f:
            rows = json.load(f)
        for name, r in rows.items():
            graded.add(name)
            verdict = api.classify_verdict(name, r)
            if verdict in ("green", "rows_only"):
                green.add(name)
                failed.pop(name, None)
                if verdict == "rows_only":
                    rows_only.add(name)
            else:
                why = (
                    "graded rows-only but spec now has an oracle — "
                    "awaiting hash grade"
                    if r.get("err") == "no_oracle"
                    else ("ERROR" if r.get("err") else "hash/schema mismatch")
                )
                failed.setdefault(name, f"{os.path.basename(path)}: {why}")

    names = list(api.REGISTRY)
    never = [n for n in names if n not in graded]
    still_red = {n: why for n, why in failed.items() if n not in green}
    front = names[:50]

    print(f"registry: {len(names)}  green-somewhere: {len(green)}  "
          f"(rows-only-by-design: {len(rows_only)})  "
          f"never-graded: {len(never)}  still-red: {len(still_red)}")
    if never:
        print("\nNEVER GRADED (rotate these forward):")
        for n in never:
            print("  ", n)
    if still_red:
        print("\nSTILL RED (fix + keep in window):")
        for n, why in still_red.items():
            print(f"   {n}  [{why}]")
    missing_from_front = [
        n for n in never + list(still_red) if n not in front
    ]
    if missing_from_front:
        print(f"\n{len(missing_from_front)} of those are NOT in the current "
              "front-50 — update _RECONFIRM in api.py (the never-graded/red "
              "set should self-rotate; this firing means a bug)")
    else:
        print("\nfront-50 already covers every never-graded/red query")

    # driver-grade staleness (r11): the oldest-grade-first tail in
    # grading_window() bounds every green's age; report the worst-case
    # age as of the NEXT grading round, assuming the upcoming front-50
    # all regrade then (the driver grades exactly that window).
    ages = api._latest_grade_rounds()
    cur_round = max(ages.values(), default=0)
    outside = [n for n in names if n not in front]
    if outside and ages:
        oldest = min(outside, key=lambda n: ages.get(n, 0))
        max_age = cur_round + 1 - ages.get(oldest, 0)
        print(f"\nmax driver-grade age OUTSIDE the upcoming window: "
              f"{max_age} rounds as of r{cur_round + 1} "
              f"(oldest: {oldest}, last graded r{ages.get(oldest, 0)}); "
              f"window tail regrades the {len(front)}-oldest first")

    regrade = os.path.join(_REPO, "REGRADE.json")
    if os.path.exists(regrade):
        with open(regrade) as f:
            n_regrade = len(json.load(f).get("queries", []))
        print(f"REGRADE.json: {n_regrade} changed-path regrades queued "
              "(refresh with --emit-regrade before the end-of-round commit)")
    return 0


if __name__ == "__main__":
    if "--emit-regrade" in sys.argv:
        ref = None
        if "--since" in sys.argv:
            ref = sys.argv[sys.argv.index("--since") + 1]
        sys.exit(emit_regrade(ref))
    sys.exit(main())
