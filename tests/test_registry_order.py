"""Registry verification-queue ordering (VERIFIED.json manifest).

The driver verifies a bounded prefix of ``queries()`` per round, so the
ordering is load-bearing: new or modified queries must sort before
already-verified ones, deterministically (no dependence on which
CORRECTNESS artifacts happen to exist on disk).
"""

import pathlib
import sys

from end_to_end_aws_data_pipeline_spark import registry as reg

_TOOLS = str(pathlib.Path(__file__).resolve().parent.parent / "tools")


def test_fingerprint_stable_and_sensitive():
    reg._load()
    name = next(iter(reg._QUERIES))
    fp1, fp2 = reg.fingerprint(name), reg.fingerprint(name)
    assert fp1 == fp2 and len(fp1) == 16
    # fingerprint covers the oracle SQL too
    if name in reg._ORACLE:
        old = reg._ORACLE[name]
        try:
            reg._ORACLE[name] = old + " -- changed"
            assert reg.fingerprint(name) != fp1
        finally:
            reg._ORACLE[name] = old


def test_stale_queries_sort_first_in_insertion_order(monkeypatch):
    reg._load()
    names = list(reg._QUERIES)
    # mark two mid-list queries stale (wrong fingerprint), rest verified
    stale = {names[3], names[7]}
    manifest = {
        n: ("0" * 16 if n in stale else reg.fingerprint(n), 5) for n in names
    }
    monkeypatch.setattr(reg, "_verified_manifest", lambda: manifest)
    order = list(reg.queries())
    assert order[:2] == [names[3], names[7]]  # stale first, insertion order
    rest = [n for n in names if n not in stale]
    assert order[2:] == rest  # same-round verified keep insertion order


def test_ordering_is_deterministic():
    reg._load()
    assert list(reg.queries()) == list(reg.queries())
    assert list(reg.oracle_sql()) == [
        n for n in reg.queries() if n in reg._ORACLE
    ]


def test_registry_counts_match_docs():
    """README.md / COVERAGE.md query counts must equal the live
    registry (endgame habit guard — registering a query without
    syncing the docs fails the suite immediately)."""
    if _TOOLS not in sys.path:
        sys.path.insert(0, _TOOLS)
    import endgame_check

    counts = endgame_check.check_counts()  # SystemExit on drift
    assert counts["visible"] == len(reg._QUERIES)


def test_endgame_record_is_fresh():
    """The shipped tree's ENDGAME.json must match the live registry —
    registering a query after the end-of-round record (the habit that
    recurred rounds 6-8) now fails the suite, not just the standalone
    ``tools/endgame_check.py`` verify.

    Mid-round iteration: set ``SPARK_GRAFT_ENDGAME_WIP=1`` to skip while
    new queries are being added; the driver and judge run pytest with a
    clean environment, so the shipped tree is always gated. The endgame
    sequence stays: full check_oracle sweep + pytest + bench →
    ``endgame_check.py --record`` → commit (the round's LAST commit)."""
    import os

    if os.environ.get("SPARK_GRAFT_ENDGAME_WIP") == "1":
        import pytest

        pytest.skip("mid-round WIP: endgame record intentionally stale")
    if _TOOLS not in sys.path:
        sys.path.insert(0, _TOOLS)
    import json

    import endgame_check

    path = pathlib.Path(_TOOLS).parent / "ENDGAME.json"
    assert path.exists(), "ENDGAME.json missing — run endgame_check --record"
    rec = json.loads(path.read_text(encoding="utf-8"))
    reg._load()
    assert rec.get("registry_count") == len(reg._QUERIES), (
        f"STALE ENDGAME RECORD: {rec.get('registry_count')} recorded, "
        f"{len(reg._QUERIES)} registered — re-run the full sweep and "
        "tools/endgame_check.py --record as the round's last commit"
    )
    assert endgame_check.main() == 0


def test_unknown_manifest_entries_ignored(monkeypatch):
    reg._load()
    monkeypatch.setattr(
        reg, "_verified_manifest", lambda: {"no_such_query": ("abc", 1)}
    )
    names = list(reg._QUERIES)
    # all never-verified -> judge-flagged _PRIORITY entries jump to the
    # front, the rest keep registry insertion order (stable sort)
    expected = [n for n in names if n in reg._PRIORITY] + [
        n for n in names if n not in reg._PRIORITY
    ]
    assert list(reg.queries()) == expected


def test_fresh_queries_rotate_oldest_green_round_first(monkeypatch):
    reg._load()
    names = list(reg._QUERIES)
    # all verified and unchanged, but at different driver rounds:
    # names[5] at round 2 (oldest), names[1] at round 4, rest at 9
    rounds = {names[5]: 2, names[1]: 4}
    manifest = {
        n: (reg.fingerprint(n), rounds.get(n, 9)) for n in names
    }
    monkeypatch.setattr(reg, "_verified_manifest", lambda: manifest)
    order = list(reg.queries())
    assert order[:2] == [names[5], names[1]]  # oldest green rows first
    assert order[2:] == [n for n in names if n not in set(order[:2])]


def test_legacy_bare_fingerprint_entries_parse_as_round_zero():
    parsed = reg._verified_manifest()
    # committed manifest predates round stamping: every entry must parse
    # (bare fp -> round 0, "fp:rN" -> round N), never raise
    assert all(
        isinstance(fp, str) and isinstance(r, int) for fp, r in parsed.values()
    )


def test_load_fails_loudly_on_missing_module(monkeypatch):
    """A query module that fails to import must fail the load: a
    swallowed import error would silently drop its queries."""
    import pytest

    missing = "end_to_end_aws_data_pipeline_spark.streaming.no_such_module"
    monkeypatch.setattr(reg, "_QUERY_MODULES", reg._QUERY_MODULES + (missing,))
    monkeypatch.setattr(reg, "_loaded", False)
    with pytest.raises(ModuleNotFoundError, match="no_such_module"):
        reg._load()
