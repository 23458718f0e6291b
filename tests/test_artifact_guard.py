"""Structural freshness guard (VERDICT r6 item 6): an operator may
only merge together with its parity row.  Round 6 landed 8 operators
after PARITY_r06.json was generated, leaving them with no committed
correctness evidence; this test makes that divergence a red suite.

Workflow: after adding an operator, iterate with plain
``python tools/parity_check.py /root/testdata/sf0.01 <new names>``
(no artifact write), COMMIT the operator, then run the same command
with ``PARITY_JSON=PARITY_r{N}.json`` set -- subset runs MERGE into
the existing artifact, so the row lands without re-running the
inventory, stamped with the clean commit that produced it -- and
commit the artifact immediately after.  Order matters: a merge run
from a dirty tree stamps ``<sha>-dirty`` and
test_parity_provenance_commits_are_ancestors_of_head rejects it.
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))


def _latest_parity() -> tuple[Path, dict]:
    files = sorted(
        REPO.glob("PARITY_r*.json"),
        key=lambda p: int(re.search(r"r(\d+)", p.name).group(1)),
    )
    assert files, "no PARITY_r*.json artifact committed at all"
    p = files[-1]
    return p, json.loads(p.read_text())


def test_every_query_has_a_parity_row():
    import __spark_entry__ as entrymod

    path, parity = _latest_parity()
    inventory = set(entrymod.queries())
    missing = sorted(inventory - set(parity))
    assert not missing, (
        f"{len(missing)} queries() entries have no row in {path.name} -- "
        f"regenerate/merge the parity artifact before merging: {missing}"
    )


def test_no_parity_row_is_failing():
    path, parity = _latest_parity()
    bad = sorted(n for n, r in parity.items() if r.get("status") == "FAIL")
    assert not bad, f"failing rows in {path.name}: {bad}"


def test_oracle_queries_are_hash_checked_in_parity():
    """Every oracle-bearing query must have a PASS (hash-checked) row,
    not just a rows_only one -- a silent oracle drop would otherwise
    downgrade the evidence class without failing anything."""
    import __spark_entry__ as entrymod

    path, parity = _latest_parity()
    oracles = set(entrymod.oracle_sql())
    downgraded = sorted(
        n for n in oracles
        if n in parity and parity[n].get("status") == "rows_only"
    )
    assert not downgraded, (
        f"oracle-bearing queries recorded rows-only in {path.name}: {downgraded}"
    )


def test_parity_provenance_commits_are_ancestors_of_head():
    """Every provenance-stamped parity row must come from a commit that
    is an ancestor of HEAD and from a clean evidence-code state --
    otherwise a merged artifact could carry evidence produced by code
    that never landed (divergent branch or dirty worktree).  Rows
    without a ``commit`` key predate the stamping convention (r7 and
    earlier) and are exempt."""
    import shutil
    import subprocess

    import pytest

    if shutil.which("git") is None:
        pytest.skip("git unavailable -- provenance cannot be checked here")

    path, parity = _latest_parity()
    stamped = {
        r["commit"] for r in parity.values()
        if isinstance(r, dict) and r.get("commit") not in (None, "unknown")
    }
    dirty = sorted(c for c in stamped if c.endswith("-dirty"))
    assert not dirty, (
        f"{path.name} carries rows stamped from a dirty worktree: {dirty} -- "
        "commit the code first, then regenerate the evidence"
    )
    for c in sorted(stamped):
        full = subprocess.run(
            ["git", "-C", str(REPO), "rev-parse", f"{c}^{{commit}}"],
            capture_output=True, text=True,
        )
        assert full.returncode == 0, (
            f"{path.name} stamps commit {c} which does not exist in this repo"
        )
        anc = subprocess.run(
            ["git", "-C", str(REPO), "merge-base", "--is-ancestor",
             full.stdout.strip(), "HEAD"],
            capture_output=True, text=True,
        )
        assert anc.returncode == 0, (
            f"{path.name} stamps commit {c} which is not an ancestor of HEAD"
        )


def _driver_green_rounds() -> dict:
    """name -> latest round with a fully-green driver row
    (rows + schema + hash) across all committed CORRECTNESS files."""
    last: dict[str, int] = {}
    for p in REPO.glob("CORRECTNESS_r*.json"):
        rnd = int(re.search(r"r(\d+)", p.name).group(1))
        for name, row in json.loads(p.read_text()).items():
            if not isinstance(row, dict):
                continue
            if (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            ):
                last[name] = max(last.get(name, 0), rnd)
    return last


def _parity_stamps_by_round() -> dict:
    """round -> {name: src_stamp} for every committed parity artifact
    that carries content stamps (r11+)."""
    out: dict[int, dict] = {}
    for p in REPO.glob("PARITY_r*.json"):
        rnd = int(re.search(r"r(\d+)", p.name).group(1))
        stamps = {
            name: row["src_stamp"]
            for name, row in json.loads(p.read_text()).items()
            if isinstance(row, dict) and "src_stamp" in row
        }
        if stamps:
            out[rnd] = stamps
    return out


def test_parity_rows_predate_their_rounds_driver_certification():
    """Closes the r11 review's stamp-refresh hole: a subset merge into
    a PAST round's parity artifact would overwrite the very src_stamp
    the changed-code guard compares against, silently re-certifying
    superseded code.  Structural rule: for every round where BOTH
    artifacts are committed, every parity row's stamped commit must be
    an ancestor of the commit that ADDED that round's CORRECTNESS
    artifact -- local evidence must predate the driver certification
    it later vouches for.  New evidence belongs in the CURRENT round's
    artifact, never merged backwards."""
    import shutil
    import subprocess

    import pytest

    if shutil.which("git") is None:
        pytest.skip("git unavailable -- provenance cannot be checked here")

    def rounds(pattern: str) -> dict:
        return {
            int(re.search(r"r(\d+)", p.name).group(1)): p
            for p in REPO.glob(pattern)
        }

    parity_rounds = rounds("PARITY_r*.json")
    corr_rounds = rounds("CORRECTNESS_r*.json")
    violations = []
    for rnd in sorted(set(parity_rounds) & set(corr_rounds)):
        add = subprocess.run(
            ["git", "-C", str(REPO), "log", "--diff-filter=A",
             "--format=%H", "--", corr_rounds[rnd].name],
            capture_output=True, text=True,
        ).stdout.split()
        if not add:
            continue  # driver artifact not committed yet (mid-round)
        stamped = {
            r["commit"].removesuffix("-dirty")
            for r in json.loads(parity_rounds[rnd].read_text()).values()
            if isinstance(r, dict) and r.get("commit") not in (None, "unknown")
        }
        for c in sorted(stamped):
            anc = subprocess.run(
                ["git", "-C", str(REPO), "merge-base", "--is-ancestor",
                 c, add[0]],
                capture_output=True, text=True,
            )
            if anc.returncode != 0:
                violations.append(
                    f"PARITY_r{rnd} row commit {c} postdates "
                    f"CORRECTNESS_r{rnd}'s add ({add[0][:12]})"
                )
    assert not violations, (
        "parity evidence merged backwards into an already-certified "
        f"round's artifact: {violations}"
    )


def test_changed_queries_are_reprioritized_into_driver_window():
    """VERDICT r10 item 2, made structural: if a query's content stamp
    (fn source + same-module helpers + oracle text) differs from the
    stamp at its last driver-green round, its green CORRECTNESS row
    certifies superseded code -- the query MUST sit in the current
    driver window (first 50 ``queries()`` entries) so the next driver
    run re-certifies it.  r7, r8, and r10 each shipped exactly this
    changed-but-not-re-checked state; this test makes it a red suite."""
    import __spark_entry__ as entrymod
    from parity_check import inventory_stamps, stamp_guard_violations

    window = set(list(entrymod.queries())[:50])
    violations = stamp_guard_violations(
        inventory_stamps(),
        window,
        _driver_green_rounds(),
        _parity_stamps_by_round(),
    )
    assert not violations, (
        "queries changed since their last driver-green round but NOT "
        "re-prioritized into the driver window (DRIVER_PRIORITY in "
        f"queries/__init__.py): {violations}"
    )


def test_stamp_guard_goes_red_on_edit_until_reprioritized(tmp_path):
    """Crafted end-to-end check of the guard mechanics (the VERDICT
    item's done-criterion): editing a query body -- including a
    same-module HELPER the query fn merely calls, the exact r10 miss
    -- changes the stamp and turns the guard red, and re-prioritizing
    the query into the driver window clears it."""
    import importlib.util

    from parity_check import query_stamp, stamp_guard_violations

    src_v1 = (
        "THRESHOLD = 3\n"
        "def _helper(x):\n"
        "    return x + THRESHOLD\n"
        "def q_demo(spark, sf_dir):\n"
        "    return _helper(1)\n"
    )

    def load(body: str, tag: str):
        p = tmp_path / f"demo_{tag}.py"
        p.write_text(body)
        spec = importlib.util.spec_from_file_location(f"demo_{tag}", p)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod

    oracle = "SELECT 1 AS x"
    s1 = query_stamp(load(src_v1, "v1").q_demo, oracle)
    # identical source in a different file => identical stamp
    assert query_stamp(load(src_v1, "v1b").q_demo, oracle) == s1
    # helper-body edit (fn source unchanged!) => stamp changes
    s2 = query_stamp(
        load(src_v1.replace("x + THRESHOLD", "x * THRESHOLD"), "v2").q_demo, oracle
    )
    assert s2 != s1
    # referenced scalar constant edit => stamp changes
    s3 = query_stamp(load(src_v1.replace("= 3", "= 4"), "v3").q_demo, oracle)
    assert s3 not in (s1, s2)
    # oracle text edit => stamp changes
    assert query_stamp(load(src_v1, "v4").q_demo, "SELECT 2 AS x") != s1

    last_green = {"demo": 10}
    stamps_at_green = {10: {"demo": s1}}
    # unchanged code: green regardless of window membership
    assert stamp_guard_violations({"demo": s1}, set(), last_green, stamps_at_green) == []
    # changed code outside the window: RED
    assert stamp_guard_violations(
        {"demo": s2}, set(), last_green, stamps_at_green
    ) == ["demo"]
    # re-prioritized into the window: clears
    assert stamp_guard_violations(
        {"demo": s2}, {"demo"}, last_green, stamps_at_green
    ) == []
    # pre-stamp-era evidence (no stamp at the green round) is now
    # HARD-REJECTED unless the query is windowed (VERDICT r13 item 2:
    # the rotation retired that era; an unstamped non-window green row
    # can only mean guard bookkeeping regressed)
    import pytest

    with pytest.raises(AssertionError, match="no recorded src_stamp"):
        stamp_guard_violations({"demo": s2}, set(), last_green, {})
    # windowed: tolerated (stamp lands when the window re-certifies)
    assert stamp_guard_violations({"demo": s2}, {"demo"}, last_green, {}) == []
    # frozen-history replay escape hatch: old exemption semantics
    assert stamp_guard_violations(
        {"demo": s2}, set(), last_green, {}, allow_pre_stamp=True
    ) == []


def _blame_guard_inputs():
    """Shared plumbing for the blame-tier tests: (queries, last-green
    map, stamps-by-round, correctness-add commits) at the current repo
    state."""
    import __spark_entry__ as entrymod
    from parity_check import correctness_added_commits

    return (
        entrymod.queries(),
        _driver_green_rounds(),
        _parity_stamps_by_round(),
        correctness_added_commits(str(REPO)),
    )


def test_blame_guard_mechanics_red_on_post_certification_edit(tmp_path):
    """Crafted end-to-end check of the second guard tier (VERDICT r11
    item 2 done-criterion): in a throwaway git repo, editing a HELPER
    of a pre-stamp-era-certified query AFTER the certification artifact
    landed turns the guard red; windowing the query clears it; and a
    certification that POSTdates the edit is clean without windowing."""
    import importlib.util
    import shutil
    import subprocess

    import pytest

    from parity_check import blame_guard_violations, correctness_added_commits

    if shutil.which("git") is None:
        pytest.skip("git unavailable -- blame guard cannot run here")

    repo = tmp_path / "demo_repo"
    repo.mkdir()

    def git(*args):
        subprocess.run(
            ["git", "-C", str(repo), *args], check=True, capture_output=True
        )

    git("init", "-q")
    git("config", "user.email", "t@t")
    git("config", "user.name", "t")

    mod_path = repo / "demo_blame_mod.py"
    src_v1 = (
        "THRESHOLD = 3\n"
        "def _helper(x):\n"
        "    return x + THRESHOLD\n"
        "def q_demo(spark, sf_dir):\n"
        "    return _helper(1)\n"
    )
    mod_path.write_text(src_v1)
    git("add", "-A")
    git("commit", "-qm", "v1")
    # round-5 certification lands
    (repo / "CORRECTNESS_r05.json").write_text("{}")
    git("add", "-A")
    git("commit", "-qm", "r5 artifact")
    # post-certification helper edit (the kmeans_lite pattern)
    mod_path.write_text(src_v1.replace("x + THRESHOLD", "x * THRESHOLD"))
    git("add", "-A")
    git("commit", "-qm", "helper fix")
    # a later round certifies AFTER the edit
    (repo / "CORRECTNESS_r06.json").write_text("{}")
    git("add", "-A")
    git("commit", "-qm", "r6 artifact")

    spec = importlib.util.spec_from_file_location("demo_blame_mod", mod_path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    fns = {"demo": mod.q_demo}
    corr_add = correctness_added_commits(str(repo))
    assert set(corr_add) == {5, 6}

    # an UNSTAMPED green round outside the window is hard-rejected by
    # default (the pre-stamp era is retired; VERDICT r13 item 2) --
    # historical-replay semantics below are explicit opt-in
    import pytest

    with pytest.raises(AssertionError, match="no recorded src_stamp"):
        blame_guard_violations(fns, set(), {"demo": 5}, {}, corr_add, str(repo))
    # pre-stamp green at r5, edit postdates r5's artifact: RED
    # (historical full-span-blame semantics, frozen-history replay)
    assert blame_guard_violations(
        fns, set(), {"demo": 5}, {}, corr_add, str(repo), allow_pre_stamp=True
    ) == ["demo"]
    # windowed: clears
    assert blame_guard_violations(
        fns, {"demo"}, {"demo": 5}, {}, corr_add, str(repo)
    ) == []
    # last green r6 (certified after the edit): clean without windowing
    assert blame_guard_violations(
        fns, set(), {"demo": 6}, {}, corr_add, str(repo), allow_pre_stamp=True
    ) == []
    # a stamp recorded at the green round => same-module edits are the
    # stamp tier's job: blame stays silent on the own-file spans even
    # though it would flag them
    assert blame_guard_violations(
        fns, set(), {"demo": 5}, {5: {"demo": "abcd"}}, corr_add, str(repo)
    ) == []
    # ... but a CROSS-module helper edit after certification flags a
    # STAMPED query too (the stamped-era recurrence of the r11
    # kmeans_lite incident: a helper-module edit never flips the query
    # module's stamp, so blame must cover that remainder)
    import importlib as _importlib

    pkg = repo / "demopkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    helper_path = pkg / "helper.py"
    helper_path.write_text("def x_helper(v):\n    return v + 1\n")
    caller_path = pkg / "caller.py"
    caller_path.write_text(
        "from demopkg.helper import x_helper\n"
        "def q_cross(spark, sf_dir):\n"
        "    return x_helper(1)\n"
    )
    git("add", "-A")
    git("commit", "-qm", "cross-module pair")
    (repo / "CORRECTNESS_r07.json").write_text("{}")
    git("add", "-A")
    git("commit", "-qm", "r7 artifact")
    helper_path.write_text("def x_helper(v):\n    return v + 2\n")
    git("add", "-A")
    git("commit", "-qm", "helper-module fix")
    sys.path.insert(0, str(repo))
    try:
        mod3 = _importlib.import_module("demopkg.caller")
    finally:
        sys.path.remove(str(repo))
        # drop the tmp package from the import cache: a cached module
        # would serve stale tmp paths to any in-process re-run
        for m in [m for m in sys.modules if m.split(".")[0] == "demopkg"]:
            del sys.modules[m]
    corr_add = correctness_added_commits(str(repo))
    stamped = {7: {"cross": "feed"}}
    # stamped at r7, helper edited after r7's artifact: RED
    assert blame_guard_violations(
        {"cross": mod3.q_cross}, set(), {"cross": 7}, stamped,
        corr_add, str(repo)
    ) == ["cross"]
    # windowed: clears
    assert blame_guard_violations(
        {"cross": mod3.q_cross}, {"cross"}, {"cross": 7}, stamped,
        corr_add, str(repo)
    ) == []
    # uncommitted working-tree edit: always post-certification
    mod_path.write_text(src_v1.replace("return _helper(1)", "return _helper(2)"))
    spec2 = importlib.util.spec_from_file_location("demo_blame_mod2", mod_path)
    mod2 = importlib.util.module_from_spec(spec2)
    spec2.loader.exec_module(mod2)
    assert blame_guard_violations(
        {"demo": mod2.q_demo}, set(), {"demo": 6}, {}, corr_add, str(repo),
        allow_pre_stamp=True,
    ) == ["demo"]


def test_blame_guard_spans_reach_cross_module_helpers():
    """The r11 gap was a CROSS-module helper (queries/ext.py fns call
    functions/similarity.py's kmeans_lite): the blame span list for the
    IVF audit queries must include similarity.py, which the stamp
    guard's same-module-only traversal never reaches.  All three
    helper call styles in this repo must resolve (r12 review finding:
    module-globals-only resolution missed the other two):
    module-global import (ann_ivf_lossless_audit -> kmeans_lite),
    function-LOCAL from-import (decontaminate ->
    minhash_decontaminate, corpus.py), and module-alias attribute call
    (doc_token_stats -> TX.tokens, functions/text.py)."""
    import __spark_entry__ as entrymod
    from parity_check import fn_blame_spans

    qs = entrymod.queries()
    for query, helper_file in [
        ("ann_ivf_lossless_audit", "functions/similarity.py"),
        ("decontaminate", "functions/similarity.py"),
        ("doc_token_stats", "functions/text.py"),
    ]:
        files = {path for path, _, _ in fn_blame_spans(qs[query])}
        assert any(p.endswith(helper_file) for p in files), (
            f"{query}: {helper_file} missing from blame spans: "
            f"{sorted(files)}"
        )


def test_blame_spans_follow_cross_module_classes(tmp_path):
    """r12 advice: a query depending on a cross-module CLASS (or
    callable object) previously got no span for it, so a
    post-certification edit to a shared class escaped both guard tiers
    -- the same shape as the r11 kmeans_lite gap.  Package classes now
    contribute their class-body span under every resolution style
    (module-global ref, function-local from-import, module-alias
    attribute), and their METHODS' own cross-module closures are
    walked too."""
    import importlib

    from parity_check import fn_blame_spans

    repo = tmp_path / "clsrepo"
    pkg = repo / "clspkg"
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "deep.py").write_text("def deep_fn(v):\n    return v + 1\n")
    (pkg / "base.py").write_text(
        "from clspkg.deep import deep_fn\n"
        "class Base:\n"
        "    def spin(self, v):\n"
        "        return deep_fn(v)\n"
    )
    (pkg / "helper.py").write_text(
        "from clspkg.base import Base\n"
        "class Gadget(Base):\n"
        "    pass\n"
    )
    (pkg / "caller.py").write_text(
        "import clspkg.helper as H\n"
        "from clspkg.helper import Gadget\n"
        "def q_global(spark, sf_dir):\n"
        "    return Gadget().spin(1)\n"
        "def q_local(spark, sf_dir):\n"
        "    from clspkg.helper import Gadget as G\n"
        "    return G().spin(1)\n"
        "def q_alias(spark, sf_dir):\n"
        "    return H.Gadget().spin(1)\n"
    )
    sys.path.insert(0, str(repo))
    try:
        caller = importlib.import_module("clspkg.caller")
        for fn in (caller.q_global, caller.q_local, caller.q_alias):
            files = {path for path, _, _ in fn_blame_spans(fn)}
            assert any(p.endswith("helper.py") for p in files), (
                f"{fn.__name__}: class file missing from spans: {files}"
            )
            # the inherited BASE class's body is a span too (r13
            # review finding: Gadget(Base) with spin defined on Base
            # previously produced no span for base.py)
            assert any(p.endswith("base.py") for p in files), (
                f"{fn.__name__}: base-class file missing: {files}"
            )
            # the base method's closure reaches a FOURTH module
            assert any(p.endswith("deep.py") for p in files), (
                f"{fn.__name__}: method-closure file missing: {files}"
            )
        # the base.py span covers the whole class BODY (line 2..4)
        spans = [s for s in fn_blame_spans(caller.q_global)
                 if s[0].endswith("base.py")]
        assert any(start <= 2 and end >= 4 for _, start, end in spans), spans
    finally:
        sys.path.remove(str(repo))
        for m in [m for m in sys.modules if m.split(".")[0] == "clspkg"]:
            del sys.modules[m]


def test_blame_guard_flags_untracked_helper_file(tmp_path):
    """r12 review finding: git blame exits 128 on an UNTRACKED file,
    and an empty sha list silently PASSED a query whose helper lives
    entirely in post-certification code.  A helper refactored into a
    not-yet-committed file must flag the query."""
    import importlib
    import shutil
    import subprocess

    import pytest

    from parity_check import blame_guard_violations, correctness_added_commits

    if shutil.which("git") is None:
        pytest.skip("git unavailable -- blame guard cannot run here")

    repo = tmp_path / "untracked_repo"
    repo.mkdir()

    def git(*args):
        subprocess.run(
            ["git", "-C", str(repo), *args], check=True, capture_output=True
        )

    git("init", "-q")
    git("config", "user.email", "t@t")
    git("config", "user.name", "t")
    pkg = repo / "untrackedpkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "caller.py").write_text(
        "from untrackedpkg.newhelper import fresh\n"
        "def q_un(spark, sf_dir):\n"
        "    return fresh(1)\n"
    )
    # the helper file is written but NEVER committed
    (pkg / "newhelper.py").write_text("def fresh(v):\n    return v\n")
    git("add", "--", "untrackedpkg/__init__.py", "untrackedpkg/caller.py")
    git("commit", "-qm", "caller only")
    (repo / "CORRECTNESS_r03.json").write_text("{}")
    git("add", "CORRECTNESS_r03.json")
    git("commit", "-qm", "r3 artifact")

    sys.path.insert(0, str(repo))
    try:
        mod = importlib.import_module("untrackedpkg.caller")
    finally:
        sys.path.remove(str(repo))
        for m in [m for m in sys.modules if m.split(".")[0] == "untrackedpkg"]:
            del sys.modules[m]
    corr_add = correctness_added_commits(str(repo))
    assert blame_guard_violations(
        {"un": mod.q_un}, set(), {"un": 3}, {}, corr_add, str(repo),
        allow_pre_stamp=True,
    ) == ["un"]


def test_blame_parser_immune_to_header_shaped_source_lines(tmp_path):
    """r12 review fix pin: a SOURCE line whose text looks like a blame
    header ('<40hex> <int> <int>') must not be mistaken for one -- the
    shape-matching parser counted it as a record and shifted the
    line-to-commit mapping for every later span.  Here the decoy
    string is edited post-certification while the query fn is not: the
    exact parser stays green; the shifted mapping would have bled the
    decoy's new sha into the fn's span and flagged it."""
    import importlib.util
    import shutil
    import subprocess

    import pytest

    from parity_check import blame_guard_violations, correctness_added_commits

    if shutil.which("git") is None:
        pytest.skip("git unavailable -- blame guard cannot run here")

    repo = tmp_path / "decoy_repo"
    repo.mkdir()

    def git(*args):
        subprocess.run(
            ["git", "-C", str(repo), *args], check=True, capture_output=True
        )

    git("init", "-q")
    git("config", "user.email", "t@t")
    git("config", "user.name", "t")
    # line 2 of the module docstring IS a header-shaped line; the
    # shape parser counted it as a record, inserting a bogus sha (the
    # decoy text itself) and shifting every later line's mapping by
    # one -- so the fn span (lines 5-6) would read line 4's sha, which
    # the post-certification edit below makes post-cert: false flag.
    src = (
        '"""doc\n'
        f'{"a" * 40} 1 1\n'
        '"""\n'
        "OTHER = 1\n"
        "def q_decoy(spark, sf_dir):\n"
        "    return 1\n"
    )
    mod_path = repo / "decoy_mod.py"
    mod_path.write_text(src)
    git("add", "-A")
    git("commit", "-qm", "v1")
    (repo / "CORRECTNESS_r04.json").write_text("{}")
    git("add", "-A")
    git("commit", "-qm", "r4 artifact")
    # post-certification edit OUTSIDE the fn span (line 4; the fn
    # never references OTHER, so its span stays lines 5-6)
    mod_path.write_text(src.replace("OTHER = 1", "OTHER = 2"))
    git("add", "-A")
    git("commit", "-qm", "unrelated constant edit")

    spec = importlib.util.spec_from_file_location("decoy_mod", mod_path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    corr_add = correctness_added_commits(str(repo))
    assert blame_guard_violations(
        {"decoy": mod.q_decoy}, set(), {"decoy": 4}, {}, corr_add, str(repo),
        allow_pre_stamp=True,
    ) == []


def test_blame_guard_would_have_caught_the_r11_ivf_gap():
    """History-pinned retro-check (VERDICT r11 item 2: 'ann_ivf_
    lossless_audit would have been caught by it'): evaluated against
    the FROZEN r1-r11 evidence (committed artifacts only, rounds <= 11)
    with an empty driver window, the blame tier must flag both IVF
    audits whose shared kmeans_lite helper changed after their r9
    certification.  Pinned to <= r11 so future rounds' re-greening
    doesn't erode the regression check."""
    import shutil

    import pytest

    from parity_check import blame_guard_violations

    if shutil.which("git") is None:
        pytest.skip("git unavailable -- blame guard cannot run here")

    qs, last_green, stamps, corr_add = _blame_guard_inputs()
    last_green_r11 = {}
    for p in REPO.glob("CORRECTNESS_r*.json"):
        rnd = int(re.search(r"r(\d+)", p.name).group(1))
        if rnd > 11:
            continue
        for name, row in json.loads(p.read_text()).items():
            if (
                isinstance(row, dict)
                and row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            ):
                last_green_r11[name] = max(last_green_r11.get(name, 0), rnd)
    stamps_r11 = {rnd: s for rnd, s in stamps.items() if rnd <= 11}
    flagged = blame_guard_violations(
        {n: qs[n] for n in ("ann_ivf_lossless_audit", "ann_recall_audit")},
        set(), last_green_r11, stamps_r11, corr_add, str(REPO),
        allow_pre_stamp=True,  # frozen pre-r11 evidence: replay mode
    )
    assert flagged == ["ann_ivf_lossless_audit", "ann_recall_audit"]


def test_post_certification_edits_to_pre_stamp_queries_are_windowed():
    """Live enforcement of the second guard tier over the whole
    inventory at HEAD: any pre-stamp-era-certified query whose blamed
    function-closure lines postdate its certification commit must sit
    in the current driver window.  This is the structural closure of
    the exemption ann_ivf_lossless_audit fell through in r11."""
    import shutil

    import pytest

    from parity_check import blame_guard_violations

    if shutil.which("git") is None:
        pytest.skip("git unavailable -- blame guard cannot run here")

    qs, last_green, stamps, corr_add = _blame_guard_inputs()
    window = set(list(qs)[:50])
    skipped: list = []
    violations = blame_guard_violations(
        qs, window, last_green, stamps, corr_add, str(REPO), skipped=skipped
    )
    assert not violations, (
        "pre-stamp-era-certified queries edited after certification but "
        "NOT re-prioritized into the driver window (DRIVER_PRIORITY in "
        f"queries/__init__.py): {violations}"
    )
    # r12 advice: a query silently skipped because its green round's
    # CORRECTNESS artifact never resolved to a commit would disable
    # this tier for it permanently.  Only the CURRENT round's artifact
    # may legitimately be uncommitted (it lands at round end), and the
    # current round is exactly max(committed)+1 -- tolerating anything
    # above max would let a round whose artifact NEVER lands pass
    # silently forever once the next round starts (r13 review
    # finding).
    current_round = max(corr_add, default=0) + 1
    bad = sorted({(n, r) for n, r in skipped if r != current_round})
    assert not bad, (
        "blame guard silently disabled for queries whose green-round "
        f"artifact (!= current r{current_round}) has no committed add: {bad}"
    )


def test_driver_and_local_parity_agree_on_hash_status():
    """VERDICT r9 item 7: the compaction_plan r9 divergence (local
    PARITY said PASS, driver CORRECTNESS said hash-FAIL, because the
    local canon() stringified a HUGEINT away) must be a red test, not
    a judge finding.  For the latest round where BOTH artifacts exist,
    every query present in both must agree on hash status -- unless a
    LATER parity artifact re-verified it green at a commit that
    postdates a FIX: the exemption demands that evidence-producing
    code (the package, tools/, __spark_entry__.py) actually changed
    between the driver-red artifact landing and the parity row's
    stamped commit.  A newer-round PASS from an unchanged harness
    cannot be a fix and stays flagged (r10 review finding)."""
    import shutil
    import subprocess

    import pytest

    corr_files = sorted(
        REPO.glob("CORRECTNESS_r*.json"),
        key=lambda p: int(re.search(r"r(\d+)", p.name).group(1)),
    )
    assert corr_files, "no CORRECTNESS_r*.json artifact committed"
    corr_path = corr_files[-1]
    corr_round = int(re.search(r"r(\d+)", corr_path.name).group(1))
    corr = json.loads(corr_path.read_text())

    parity_path, parity = _latest_parity()
    parity_round = int(re.search(r"r(\d+)", parity_path.name).group(1))

    def evidence_changed_since_driver_red(parity_commit: str | None) -> bool:
        """True iff evidence-producing code differs between the commit
        that added the driver-red CORRECTNESS artifact and the commit
        that produced the parity row."""
        if shutil.which("git") is None:
            pytest.skip("git unavailable -- fix recency cannot be checked")
        if not parity_commit or parity_commit == "unknown":
            return False
        corr_add = subprocess.run(
            ["git", "-C", str(REPO), "log", "--diff-filter=A",
             "--format=%H", "--", corr_path.name],
            capture_output=True, text=True,
        ).stdout.split()
        if not corr_add:
            return True  # artifact uncommitted yet: mid-round state
        diff = subprocess.run(
            ["git", "-C", str(REPO), "diff", "--name-only",
             corr_add[0], parity_commit, "--",
             "spark_streaming_postgres_lab2_spark", "tools",
             "__spark_entry__.py"],
            capture_output=True, text=True,
        )
        return diff.returncode == 0 and bool(diff.stdout.strip())

    disagreements = []
    for name, drow in corr.items():
        prow = parity.get(name)
        if not isinstance(drow, dict) or not isinstance(prow, dict):
            continue
        driver_green = bool(drow.get("hash_match"))
        local_green = prow.get("status") == "PASS"
        if driver_green == local_green:
            continue
        # a newer parity artifact may legitimately re-verify a
        # driver-red query AFTER its fix landed; the reverse --
        # driver green, local FAIL -- is always a defect in one of
        # the two harnesses
        if (
            driver_green is False
            and parity_round > corr_round
            and evidence_changed_since_driver_red(prow.get("commit"))
        ):
            continue
        disagreements.append(
            f"{name}: driver({corr_path.name})="
            f"{'green' if driver_green else 'RED'} vs "
            f"local({parity_path.name})={prow.get('status')}"
        )
    assert not disagreements, (
        "driver and local parity disagree on hash status -- one harness "
        f"has a blind spot: {disagreements}"
    )


def test_blame_spans_include_class_valued_attributes(tmp_path):
    """r13 advice: the class-body walk visited methods (isfunction)
    but not CLASS-valued attributes, so a cross-module class bound as
    e.g. ``policy = Policy`` on another class contributed no span --
    the last isfunction-only gate in the walk.  Package classes
    reachable as class attributes now contribute their own body
    span (and their methods' closures)."""
    import importlib

    from parity_check import fn_blame_spans

    repo = tmp_path / "attrrepo"
    pkg = repo / "attrpkg"
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "policy.py").write_text(
        "def pick(v):\n"
        "    return v\n"
        "class Policy:\n"
        "    def choose(self, v):\n"
        "        return pick(v)\n"
    )
    (pkg / "gadget.py").write_text(
        "from attrpkg.policy import Policy\n"
        "class Gadget:\n"
        "    policy = Policy\n"
        "    def run(self, v):\n"
        "        return self.policy().choose(v)\n"
    )
    (pkg / "caller.py").write_text(
        "from attrpkg.gadget import Gadget\n"
        "def q_attr(spark, sf_dir):\n"
        "    return Gadget().run(1)\n"
    )
    sys.path.insert(0, str(repo))
    try:
        caller = importlib.import_module("attrpkg.caller")
        files = {path for path, _, _ in fn_blame_spans(caller.q_attr)}
        assert any(p.endswith("gadget.py") for p in files), files
        # the class-valued attribute's own module must be spanned too
        assert any(p.endswith("policy.py") for p in files), files
    finally:
        sys.path.remove(str(repo))
        for m in [m for m in sys.modules if m.split(".")[0] == "attrpkg"]:
            del sys.modules[m]


def test_blame_exemption_matches_exact_repo_relative_path():
    """r13 advice: the exemption matched by path SUFFIX, so ANY file
    named session.py (or sources/tables.py) anywhere -- including a
    future queries/session.py -- silently inherited the inventory-wide
    shared-infrastructure exemption.  Now only the two exact
    repo-relative paths are exempt."""
    from parity_check import _is_blame_exempt

    assert _is_blame_exempt(
        str(REPO / "spark_streaming_postgres_lab2_spark" / "session.py")
    )
    assert _is_blame_exempt(
        str(REPO / "spark_streaming_postgres_lab2_spark" / "sources" / "tables.py")
    )
    # same basename, different directory: NOT exempt
    assert not _is_blame_exempt(
        str(REPO / "spark_streaming_postgres_lab2_spark" / "queries" / "session.py")
    )
    assert not _is_blame_exempt(str(REPO / "session.py"))
    assert not _is_blame_exempt("/somewhere/else/session.py")


def test_tools_resolve_their_own_checkout(tmp_path, monkeypatch):
    """Each tool puts ITS checkout first on sys.path, so a copy run from
    another checkout (a parent copy for an A/B, a benchmark run in a
    fresh directory) imports that checkout's package and queries."""
    import runpy

    tools = tmp_path / "tools"
    tools.mkdir()
    for name in ("parity_check.py", "plan_report.py", "scaling_report.py"):
        copy = tools / name
        copy.write_text((REPO / "tools" / name).read_text())
        monkeypatch.setattr(sys, "path", list(sys.path))
        runpy.run_path(str(copy), run_name="tool_copy")
        assert sys.path[0] == str(tmp_path), name
