"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at the
given sf, compare row count, column names, and an order-insensitive
value hash.  Usage: python tools/parity_check.py [sf_dir] [name ...]

Set ``PARITY_JSON=path.json`` to also write a machine-readable result
map (committed per round as PARITY_r{N}.json: the driver checks only
the first 50 queries() entries, so this file is the evidence for the
rest of the inventory).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _norm_spark_type(dt: str) -> str:
    """Normalize a Spark dtype string to a comparison family."""
    dt = dt.lower()
    if dt in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if dt in ("float", "double"):
        return "float"
    if dt.startswith("decimal"):
        return "decimal"
    if dt == "string":
        return "str"
    if dt == "boolean":
        return "bool"
    if dt == "date":
        return "date"
    if dt.startswith("timestamp"):
        return "timestamp"
    return "other"  # array/map/struct/binary: value compare only


def _norm_duck_type(dt: str) -> str:
    """Normalize a DuckDB type string to a comparison family.

    HUGEINT and DECIMAL deliberately normalize to families no Spark
    dtype maps to: the repo convention (queries/__init__.py) says
    integer sums must be CAST to BIGINT on the DuckDB side, and the
    driver's value hash is type-sensitive -- a HUGEINT column hashes
    differently even when every value is identical (the exact
    compaction_plan r9 failure this check exists to catch locally).
    """
    dt = str(dt).upper()
    if dt in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
              "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if dt == "HUGEINT":
        return "hugeint"  # never matches a Spark family -> flagged
    if dt in ("FLOAT", "DOUBLE"):
        return "float"
    if dt.startswith("DECIMAL"):
        return "decimal"  # flagged unless Spark side is also decimal
    if dt == "VARCHAR":
        return "str"
    if dt == "BOOLEAN":
        return "bool"
    if dt == "DATE":
        return "date"
    if dt.startswith("TIMESTAMP"):
        return "timestamp"
    return "other"


def type_problems(spark_dtypes, duck_cols, duck_types) -> list[str]:
    """Driver-hash-sensitive type divergences between a Spark result
    (``df.dtypes`` list of (name, dtype)) and a DuckDB relation
    (``rel.columns`` / ``rel.types``).  ``canon()`` stringifies cells,
    so HUGEINT-vs-BIGINT (and DECIMAL-vs-DOUBLE) divergence hashes
    identically locally while failing the driver's type-sensitive
    hash -- this is the sibling check VERDICT r9 item 2 ordered."""
    sd = {name: (dt, _norm_spark_type(dt)) for name, dt in spark_dtypes}
    problems = []
    for col, dt in zip(duck_cols, duck_types):
        dfam = _norm_duck_type(dt)
        raw_fam = sd.get(col)
        if raw_fam is None:
            continue  # name mismatch reported separately
        sraw, sfam = raw_fam
        if dfam == sfam or "other" in (dfam, sfam):
            continue
        problems.append(f"type {col}: duckdb {dt} vs spark {sraw} ({sfam})")
    return problems


def _collect_code_names(code) -> list[str]:
    """All global names a code object references, including inside
    nested functions/lambdas/comprehensions (their code objects live
    in co_consts).  Deterministic order."""
    names = list(code.co_names)
    for const in code.co_consts:
        if hasattr(const, "co_names"):
            names.extend(_collect_code_names(const))
    return names


def query_stamp(fn, oracle) -> str:
    """Content hash of a query's implementation + oracle text
    (VERDICT r10 item 2): the structural trigger for "changed code =>
    next driver window".  Covers the fn source, the oracle SQL, and --
    because both r10 mid-round changes happened in SAME-MODULE helpers
    the fn merely calls (``_cut_windows``, the BPE vocabulary guard),
    not in the fn body itself -- recursively the source of every
    same-module function the fn references, the deterministic repr of
    referenced data constants (caps, thresholds, source tuples,
    vocabularies -- sets sorted, containers recursed), and the fn's
    resolved default-argument values (a default like
    ``max_occ=_CUT_OCC_CAP`` names the constant in source but not its
    value).  Cross-module helpers
    (load_tables, functions/*) are deliberately out of scope: a change
    there touches most of the inventory at once, which the driver
    window can never absorb; those are covered by the ordinary local
    parity sweep."""
    import functools
    import hashlib
    import inspect

    parts: list[str] = []
    seen: set[str] = set()

    def const_repr(v) -> str:
        """Deterministic repr for data constants a query references.
        Sets are sorted (their native repr order is salted); nested
        containers recurse so a set inside a dict still stamps
        stably."""
        if isinstance(v, (set, frozenset)):
            return "{" + ", ".join(sorted(const_repr(x) for x in v)) + "}"
        if isinstance(v, (list, tuple)):
            inner = ", ".join(const_repr(x) for x in v)
            return f"[{inner}]" if isinstance(v, list) else f"({inner})"
        if isinstance(v, dict):
            return "{" + ", ".join(
                f"{const_repr(k)}: {const_repr(x)}" for k, x in v.items()
            ) + "}"
        return repr(v)

    _CONSTS = (bool, int, float, str, bytes, tuple, list, dict, set, frozenset)

    def visit(f) -> None:
        if isinstance(f, functools.partial):
            kw = sorted((f.keywords or {}).items(), key=lambda kv: kv[0])
            parts.append(
                f"partial{const_repr(f.args)}"
                + const_repr([f"{k}={const_repr(v)}" for k, v in kw])
            )
            visit(f.func)
            return
        key = f"{getattr(f, '__module__', '')}.{getattr(f, '__qualname__', repr(f))}"
        if key in seen:
            return
        seen.add(key)
        try:
            parts.append(inspect.getsource(f))
        except (OSError, TypeError):
            parts.append(repr(f))
            return
        # default-argument VALUES are not co_names (the def line's
        # source shows only the expression text, e.g. a constant's
        # NAME): stamp the resolved values too (r11 review finding --
        # a changed _CUT_OCC_CAP otherwise left the stamp unchanged)
        for dv in (getattr(f, "__defaults__", None) or ()):
            if isinstance(dv, _CONSTS):
                parts.append(f"default={const_repr(dv)}")
        for dk, dv in sorted((getattr(f, "__kwdefaults__", None) or {}).items()):
            if isinstance(dv, _CONSTS):
                parts.append(f"kwdefault {dk}={const_repr(dv)}")
        code = getattr(f, "__code__", None)
        if code is None:
            return
        mod_globals = getattr(f, "__globals__", {})
        for name in _collect_code_names(code):
            v = mod_globals.get(name)
            if v is None:
                continue
            if inspect.isfunction(v) and v.__module__ == f.__module__:
                visit(v)
            elif inspect.isclass(v) and v.__module__ == f.__module__:
                # same-module CLASSES stamp their whole body (r13
                # review finding: the blame tier discards own-file
                # spans for stamped queries on the premise the stamp
                # covers same-module content exhaustively -- a class
                # helper previously entered neither tier).  No query
                # module defines such a class today, so this changes
                # no existing stamp value.
                visit(v)
            elif isinstance(v, _CONSTS):
                # data constants too, not just scalars: _EVAL_SOURCES
                # and friends feed query semantics (r11 review finding)
                parts.append(f"{name}={const_repr(v)}")

    visit(fn)
    h = hashlib.sha256()
    h.update(("" if oracle is None else str(oracle)).encode())
    for p in parts:
        h.update(b"\x00")
        h.update(p.encode())
    return h.hexdigest()[:16]


def inventory_stamps() -> dict:
    """name -> query_stamp for the whole queries() inventory at the
    current code state."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    return {n: query_stamp(fn, oracles.get(n)) for n, fn in qs.items()}


def stamp_guard_violations(
    current_stamps: dict,
    driver_window: set,
    last_green_round: dict,
    stamps_by_round: dict,
    allow_pre_stamp: bool = False,
) -> list:
    """The structural "changed code => next driver window" rule
    (VERDICT r10 item 2): names whose content stamp differs from the
    stamp recorded at their last driver-green round AND are not in the
    current driver window (the first 50 ``queries()`` entries).  Such
    a query's green CORRECTNESS row certifies superseded code -- the
    exact r10 state this rule exists to make a red suite instead of a
    judge finding.

    Pre-stamp evidence (a green round with no recorded ``src_stamp``)
    is HARD-REJECTED unless the query sits in the current driver
    window awaiting re-certification: the r13 rotation retired the
    pre-stamp era, and the r14 window carries the final unstamped
    cohort (the 46 r10-green oracles -- PARITY stamps begin at r11),
    so from r14 on an unstamped non-window green row can only mean
    guard bookkeeping regressed.  The old silent ``continue`` would
    re-open the exact hole this rule closes (VERDICT r13 item 2).
    ``allow_pre_stamp=True`` restores the historical exemption SOLELY
    for frozen-history regression tests that replay pre-r11 evidence;
    no live caller may pass it."""
    out = []
    for name, cur in current_stamps.items():
        rnd = last_green_round.get(name)
        if rnd is None:
            continue  # never driver-green: covered by rotation policy
        old = (stamps_by_round.get(rnd) or {}).get(name)
        if old is None:
            # explicit raise, not a bare assert: python -O strips
            # asserts, which would silently restore the retired
            # exemption this branch exists to close (r14 review
            # finding; the blame tier raises the same way)
            if not allow_pre_stamp and name not in driver_window:
                raise AssertionError(
                    f"{name}: last driver-green round r{rnd} has no "
                    "recorded src_stamp and the query is not in the "
                    "current driver window -- the retired pre-stamp "
                    "exemption would have silently passed changed code"
                )
            continue  # stamp lands when the window re-certifies it
        if old != cur and name not in driver_window:
            out.append(name)
    return sorted(out)


_PKG = "spark_streaming_postgres_lab2_spark"
_BLAME_EXEMPT_REL_PATHS = frozenset((
    os.path.join(_PKG, "sources", "tables.py"),
    os.path.join(_PKG, "session.py"),
))
# Shared-infrastructure modules every query touches (load_tables, the
# session builder): an edit there invalidates MOST of the inventory at
# once, which a 50-slot driver window can never absorb -- the same
# rationale that scopes query_stamp to same-module helpers.  Those
# edits are covered by the full local parity sweep each round instead.
# Matched by EXACT repo-relative path, not endswith (r13 advice: a
# suffix match exempted ANY file named session.py anywhere in the
# tree, e.g. a future queries/session.py would silently inherit the
# inventory-wide exemption).


def _is_blame_exempt(path: str) -> bool:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        rel = os.path.relpath(os.path.abspath(path), repo)
    except ValueError:  # different drive (windows) -- never exempt
        return False
    return rel in _BLAME_EXEMPT_REL_PATHS


def fn_blame_spans(fn) -> list:
    """(source_file, first_line, last_line) spans for a query fn and
    every package function reachable from it: same-module helpers
    transitively (the ``query_stamp`` closure) PLUS directly referenced
    functions imported from OTHER package modules and their own
    closures.  The wider-than-stamp scope is deliberate (VERDICT r11
    item 2): the r11 ``kmeans_lite`` fix lived in
    functions/similarity.py while the affected IVF-audit query fns live
    in queries/ext.py -- a same-module-only span list would never see
    it.  Third-party modules (pyspark etc.) are out of scope, as are
    the ``_BLAME_EXEMPT_REL_PATHS`` shared-infrastructure files.

    Helpers are resolved three ways, because module globals alone miss
    the repo's two other prevalent call styles (r12 review finding --
    q_decontaminate reaches minhash_decontaminate ONLY via a
    function-local ``from ..functions.similarity import ...``):
    (1) names in module globals, (2) function-local from-imports via
    the IMPORT_NAME/fromlist bytecode pair, (3) module-alias attribute
    calls (``TX.tokens``) via LOAD_GLOBAL+LOAD_ATTR pairs.  Package
    CLASSES resolved any of those ways contribute their whole class
    body as a span, and their methods' own closures are walked too
    (r12 advice: a query depending on a cross-module class previously
    got no span for it -- the same shape as the r11 kmeans_lite gap).
    Remaining limits: spans cover function/class BODIES, so a
    module-level constant assignment in a cross-module file is outside
    every span (the same-module constant case IS stamped by
    query_stamp), and an attribute call on a LOCALLY-bound module
    alias is not statically resolvable."""
    import dis
    import functools
    import importlib
    import importlib.util
    import inspect

    spans: list = []
    seen: set[str] = set()
    root = (getattr(fn, "__module__", "") or "").split(".")[0]

    def iter_codes(code):
        yield code
        for const in code.co_consts:
            if hasattr(const, "co_names"):
                yield from iter_codes(const)

    def visit(f) -> None:
        if isinstance(f, functools.partial):
            visit(f.func)
            return
        key = f"{getattr(f, '__module__', '')}.{getattr(f, '__qualname__', repr(f))}"
        if key in seen:
            return
        seen.add(key)
        try:
            lines, start = inspect.getsourcelines(f)
            path = inspect.getsourcefile(f)
        except (OSError, TypeError):
            return
        if path and not _is_blame_exempt(path):
            spans.append((path, start, start + len(lines) - 1))
        if inspect.isclass(f):
            # class body IS the span; walk the methods for their own
            # cross-module closures (a method body lies inside the
            # class span, but what IT calls may not).  Inherited BASE
            # classes are visited too -- a subclass's behavior lives in
            # its bases' bodies, which sit in other spans (r13 review
            # finding: Gadget(Base) with spin defined on Base got no
            # span for base.py).  Descriptor wrappers (property,
            # cached_property, lru_cache-style __wrapped__) unwrap to
            # their underlying functions.
            for base in f.__bases__:
                if (getattr(base, "__module__", "") or "").split(".")[0] == root:
                    visit(base)
            for v in vars(f).values():
                if isinstance(v, (staticmethod, classmethod)):
                    v = v.__func__
                elif isinstance(v, property):
                    for acc in (v.fget, v.fset, v.fdel):
                        if inspect.isfunction(acc):
                            visit(acc)
                    continue
                elif isinstance(v, functools.cached_property):
                    v = v.func
                v = inspect.unwrap(v) if callable(v) else v
                if inspect.isfunction(v) or (
                    # a class-valued attribute (nested class, or a
                    # cross-module class bound as e.g. ``policy =
                    # Policy``) contributes its own body span too --
                    # the last isfunction-only gate in the class walk
                    # (r13 advice); root-gated like base classes
                    inspect.isclass(v)
                    and (getattr(v, "__module__", "") or "").split(".")[0] == root
                ):
                    visit(v)
            return
        code = getattr(f, "__code__", None)
        if code is None:
            return
        mod_globals = getattr(f, "__globals__", {})
        for name in _collect_code_names(code):
            v = mod_globals.get(name)
            if v is None or not (inspect.isfunction(v) or inspect.isclass(v)):
                continue
            vmod = getattr(v, "__module__", "") or ""
            if vmod == f.__module__ or vmod.split(".")[0] == root:
                visit(v)
        anchor = (f.__module__ or "").rpartition(".")[0]
        for c in iter_codes(code):
            instrs = list(dis.get_instructions(c))
            for i, ins in enumerate(instrs):
                if ins.opname == "IMPORT_NAME":
                    level = (
                        instrs[i - 2].argval
                        if i >= 2 and instrs[i - 2].opname == "LOAD_CONST"
                        else 0
                    )
                    fromlist = (
                        instrs[i - 1].argval
                        if i >= 1 and instrs[i - 1].opname == "LOAD_CONST"
                        else None
                    )
                    try:
                        target = (
                            importlib.util.resolve_name(
                                "." * level + (ins.argval or ""), anchor
                            )
                            if level
                            else ins.argval
                        )
                    except (ImportError, ValueError):
                        continue
                    if (target or "").split(".")[0] != root:
                        continue
                    try:
                        mod = importlib.import_module(target)
                    except Exception:  # noqa: BLE001
                        continue
                    for nm in fromlist or ():
                        if not isinstance(nm, str):
                            continue
                        v = getattr(mod, nm, None)
                        if (
                            (inspect.isfunction(v) or inspect.isclass(v))
                            and (getattr(v, "__module__", "") or "").split(".")[0] == root
                        ):
                            visit(v)
                elif (
                    ins.opname in ("LOAD_ATTR", "LOAD_METHOD")
                    and i >= 1
                    and instrs[i - 1].opname == "LOAD_GLOBAL"
                ):
                    base = mod_globals.get(instrs[i - 1].argval)
                    if (
                        inspect.ismodule(base)
                        and (base.__name__ or "").split(".")[0] == root
                    ):
                        v = getattr(base, ins.argval, None)
                        if (
                            (inspect.isfunction(v) or inspect.isclass(v))
                            and (getattr(v, "__module__", "") or "").split(".")[0] == root
                        ):
                            visit(v)

    visit(fn)
    return spans


def correctness_added_commits(repo: str) -> dict:
    """round -> full sha of the commit that FIRST added that round's
    CORRECTNESS_r{N}.json (the certification boundary the blame guard
    compares edits against)."""
    import glob as _glob
    import re as _re
    import subprocess

    out: dict = {}
    for p in _glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        name = os.path.basename(p)
        rnd = int(_re.search(r"r(\d+)", name).group(1))
        adds = subprocess.run(
            ["git", "-C", repo, "log", "--diff-filter=A", "--format=%H",
             "--", name],
            capture_output=True, text=True,
        ).stdout.split()
        if adds:
            out[rnd] = adds[-1]  # earliest add (log is newest-first)
    return out


def blame_guard_violations(
    fns_by_name: dict,
    driver_window: set,
    last_green_round: dict,
    stamps_by_round: dict,
    corr_added_commit: dict,
    repo: str,
    skipped: list | None = None,
    allow_pre_stamp: bool = False,
) -> list:
    """Second guard tier (VERDICT r11 item 2): git blame over a
    query's function-closure line spans (``fn_blame_spans``) catches
    what the content stamp is structurally blind to.  If any blamed
    line's commit is NOT an ancestor of the commit that added the
    query's green round's CORRECTNESS artifact -- i.e. the code was
    edited after certification -- the query must sit in the current
    driver window.  Uncommitted working-tree lines blame to the zero
    sha and always count as post-certification.

    A green round with NO recorded content stamp is HARD-REJECTED
    (the pre-stamp era is retired -- see ``stamp_guard_violations``);
    ``allow_pre_stamp=True`` restores the historical full-span-blame
    handling SOLELY for frozen-history regression tests that replay
    pre-r11 evidence.

    Queries whose green round HAS a stamp are still checked, but only
    on their CROSS-MODULE spans (files other than the fn's own source
    file): query_stamp covers same-module content exhaustively, yet is
    structurally blind across modules -- the r11 kmeans_lite incident
    would recur in the stamped era without this tier (an edit to
    functions/similarity.py never flips a queries/ext.py stamp).
    Fanout is window-absorbable by measurement: the widest-shared
    non-exempt cross-module helper (queries.core.money_sum) reaches 12
    queries; shared infrastructure every query touches is exempt via
    ``_BLAME_EXEMPT_REL_PATHS``."""
    import inspect
    import subprocess

    blame_cache: dict = {}
    anc_cache: dict = {}

    def line_commits(path: str):
        # exact --line-porcelain walk: each record is one header line
        # (sha orig final [count]), metadata lines, then the single
        # tab-prefixed content line.  Pattern-matching headers by
        # shape instead would mis-map lines whenever SOURCE text
        # itself looks like "<40hex> <int> <int>" (plausible in test
        # fixtures), silently shifting every subsequent span.
        # Returns None when blame itself fails (e.g. an UNTRACKED file:
        # 'no such path in HEAD', exit 128) -- the caller must treat
        # that as post-certification, not as an empty/passing span
        # (r12 review finding: a helper refactored into a
        # not-yet-committed file silently passed).
        if path not in blame_cache:
            res = subprocess.run(
                ["git", "-C", repo, "blame", "--line-porcelain", "--",
                 os.path.relpath(path, repo)],
                capture_output=True, text=True,
            )
            if res.returncode != 0:
                blame_cache[path] = None
            else:
                shas: list = []
                cur = None
                for ln in res.stdout.splitlines():
                    if cur is None:
                        cur = ln.split(None, 1)[0] if ln else ""
                    elif ln.startswith("\t"):
                        shas.append(cur)
                        cur = None
                blame_cache[path] = shas
        return blame_cache[path]

    def ancestors(base: str) -> set:
        # one rev-list per certification base answers every ancestry
        # query (vs one merge-base subprocess per (sha, base) pair);
        # an unresolvable base yields the empty set, i.e. everything
        # counts as post-certification -- conservative.  The zero sha
        # of uncommitted working-tree lines is never in rev-list
        # output, so it always flags, as documented.
        if base not in anc_cache:
            res = subprocess.run(
                ["git", "-C", repo, "rev-list", base],
                capture_output=True, text=True,
            )
            anc_cache[base] = (
                set(res.stdout.split()) if res.returncode == 0 else set()
            )
        return anc_cache[base]

    violations = []
    for name, fn in fns_by_name.items():
        rnd = last_green_round.get(name)
        if rnd is None or name in driver_window:
            continue
        base = corr_added_commit.get(rnd)
        if base is None:
            # certification artifact not committed.  Legitimate only
            # MID-ROUND (the current round's artifact lands at round
            # end); a never-committed or renamed artifact would
            # otherwise disable this tier for its queries forever with
            # no signal (r12 advice) -- so the skip is surfaced and the
            # live guard test asserts every skipped round is the
            # current one.
            if skipped is not None:
                skipped.append((name, rnd))
            continue
        stamped = (stamps_by_round.get(rnd) or {}).get(name) is not None
        if not stamped and not allow_pre_stamp:
            raise AssertionError(
                f"{name}: last driver-green round r{rnd} has no recorded "
                "src_stamp and the query is not in the current driver "
                "window -- pre-stamp evidence is retired; a regression "
                "in guard bookkeeping would otherwise silently re-open "
                "the full-span exemption path"
            )
        spans = fn_blame_spans(fn)
        if stamped:
            # stamped evidence: the stamp tier governs same-module
            # content; blame only the cross-module remainder
            try:
                own = inspect.getsourcefile(fn)
            except TypeError:
                own = None
            spans = [s for s in spans if s[0] != own]
        ok = ancestors(base)
        for path, start, end in spans:
            shas = line_commits(path)
            if shas is None or any(
                s not in ok for s in set(shas[start - 1:end])
            ):
                violations.append(name)
                break
    return sorted(violations)


FIXTURE_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def register_fixture_views(con, sf_dir: str) -> None:
    """Register the driver fixture tables as DuckDB views.  One shared
    definition for the harness and the inventory-sweep tests -- the
    table list and the directory-fixture globbing convention must not
    fork (driver fixtures are single files; tools/make_sfN.py fixtures
    are Spark-written DIRECTORIES of part files)."""
    for t in FIXTURE_TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")


def canon(rows, colnames) -> list[tuple]:
    """Order-insensitive canonical form: sort columns by name, stringify
    values, sort rows."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])

    def cell(v):
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return str(v).lower()
        if isinstance(v, float):
            return repr(round(v, 9))
        return str(v)

    return sorted(tuple(cell(r[i]) for i in order) for r in rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as entrymod
    from spark_streaming_postgres_lab2_spark.session import build_session

    spark = build_session()
    con = duckdb.connect()
    register_fixture_views(con, sf_dir)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    results: dict[str, dict] = {}
    stamps: dict[str, str] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        stamps[name] = query_stamp(fn, oracles.get(name))
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name:24s} spark error: {e}")
            failures.append(name)
            results[name] = {"status": "FAIL", "err": f"spark: {e}"}
            continue
        if name not in oracles:
            print(f"ok?   {name:24s} rows-only: {len(srows)} rows  ({time.time()-t0:.1f}s)")
            results[name] = {"status": "rows_only", "spark_rows": len(srows)}
            continue
        try:
            rel = con.sql(oracles[name])
            drows = rel.fetchall()
            dcols = rel.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name:24s} duckdb error: {e}")
            failures.append(name)
            results[name] = {"status": "FAIL", "err": f"duckdb: {e}"}
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount {len(srows)} vs {len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols {sorted(scols)} vs {sorted(dcols)}")
        problems.extend(type_problems(sdf.dtypes, dcols, rel.types))
        if not problems:
            sc, dc = canon(srows, scols), canon(drows, dcols)
            if sc != dc:
                diff = [(a, b) for a, b in zip(sc, dc) if a != b][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            print(f"FAIL  {name:24s} {'; '.join(problems)}")
            failures.append(name)
            results[name] = {"status": "FAIL", "err": "; ".join(problems)}
        else:
            print(f"PASS  {name:24s} {len(srows)} rows  ({time.time()-t0:.1f}s)")
            results[name] = {
                "status": "PASS",
                "rows_match": True,
                "schema_match": True,
                "hash_match": True,
                "spark_rows": len(srows),
                "oracle_rows": len(drows),
            }

    json_out = __import__("os").environ.get("PARITY_JSON")
    if json_out:
        import json as _json
        import subprocess

        # provenance: stamp every row produced by THIS run with the
        # generating commit + wall time, so a merged artifact shows
        # which code state each row's evidence came from (subset merges
        # would otherwise silently mix evidence across code states)
        try:
            repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
            # 12 chars: a 7-char abbreviation can become ambiguous as
            # the repo grows, and the ancestry guard then rejects valid
            # historical evidence it can no longer resolve
            head = subprocess.run(
                ["git", "-C", repo, "rev-parse", "--short=12", "HEAD"],
                capture_output=True, text=True, check=True,
            ).stdout.strip()
            # a dirty worktree means the stamped commit did not produce
            # this evidence -- mark it so merged artifacts can't claim
            # committed provenance for uncommitted code.  Scoped to the
            # evidence-producing code paths (freshly written artifact
            # files like PARITY_r*.json don't change what the queries
            # compute), but INCLUDING untracked files there: a new
            # module can shadow an import and change the evidence.
            porcelain = subprocess.run(
                ["git", "-C", repo, "status", "--porcelain", "--",
                 "spark_streaming_postgres_lab2_spark", "__spark_entry__.py",
                 "tools", "bench.py"],
                capture_output=True, text=True, check=True,
            ).stdout.strip()
            if porcelain:
                head += "-dirty"
        except Exception:  # noqa: BLE001 - git absent/odd state: stamp time only
            head = "unknown"
        stamp = {"commit": head, "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}
        for name, r in results.items():
            r.update(stamp)
            # content stamp (VERDICT r10 item 2): the artifact guard
            # compares this against the stamp at each query's last
            # driver-green round to force changed code back into the
            # driver window
            r["src_stamp"] = stamps[name]

        # subset runs MERGE into an existing artifact (so adding one
        # operator mid-round updates its row without re-running the
        # whole inventory; the artifact-coverage pytest guard demands
        # every queries() name has a row)
        merged = results
        if only and os.path.exists(json_out):
            with open(json_out) as f:
                merged = _json.load(f)
            merged.update(results)
        with open(json_out, "w") as f:
            _json.dump(merged, f, indent=1)

    print(f"\n{len(failures)} failures: {failures}" if failures else "\nall green")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
