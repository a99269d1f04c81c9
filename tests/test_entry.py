"""Driver-contract smoke tests (mirrors what the driver's t1 does)."""

from __future__ import annotations

import __spark_entry__ as entry_mod


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"l_returnflag", "max_price"}


def test_registry_consistency():
    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    assert len(q) >= 40
    # every oracle refers to a registered query
    assert set(o) <= set(q)
    # the flagship is oracle-checked
    assert "flagship_max_price" in o


def test_rerun_plans_reuse_generated_code(spark, sf_dir):
    """A session that re-runs its plans reuses their compiled code: the
    three benchmark curation queries generate more classes than Spark's
    default 100-entry codegen cache holds, so without the session's
    codegen settings the second round recompiles most of them.  Defined
    before ``test_all_queries_run_at_smoke_sf`` so its first round
    starts cold: classes compiled by an earlier test are cache hits."""
    from yet_another_map_reduce_spark.plans import codegen_compiles
    from yet_another_map_reduce_spark.queries import QUERIES

    names = ["quality_classifier_train_avg", "text_bpe_tokenize_8k", "pipeline_curation_v2"]
    compiled = []
    for _round in range(2):
        before, _ = codegen_compiles(spark)
        for name in names:
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        compiled.append(codegen_compiles(spark)[0] - before)
    assert compiled[0] > 0
    assert compiled[1] <= compiled[0] / 4, compiled


def test_all_queries_run_at_smoke_sf(spark, sf_dir):
    """Every registered query must at least plan+execute at sf0.001."""
    for name, fn in entry_mod.queries().items():
        n = fn(spark, sf_dir).count()
        assert n >= 0, name


def test_ordered_queries_policy(tmp_path):
    """Visit order is a pure function of the correctness history plus
    the recorded green-time fingerprints: failed rows front-load, then
    rewritten-since-green, then never-verified, then green rows
    rotating oldest-round-first.  The registry itself stays
    source-ordered."""
    import json

    from yet_another_map_reduce_spark.fingerprints import query_fingerprint
    from yet_another_map_reduce_spark.queries import QUERIES, ordered_queries

    names = list(QUERIES)
    green = {"hash_match": True, "err": None, "spark_rows": 1}
    red = {"hash_match": False, "err": "boom", "spark_rows": None}
    rows_only = {"hash_match": None, "err": "no_oracle", "spark_rows": 5}
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps(
            {
                names[0]: green,
                names[1]: red,
                names[2]: rows_only,
                names[5]: green,  # fingerprint will NOT match -> rewritten
                names[6]: green,  # no fingerprint record -> rewritten
            }
        )
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({names[3]: green}))
    fp = {
        q: {"fingerprint": query_fingerprint(q), "round": r}
        for q, r in ((names[0], 1), (names[2], 1), (names[3], 2))
    }
    fp[names[5]] = {"fingerprint": "not-the-current-source", "round": 1}
    (tmp_path / "QUERY_FINGERPRINTS.json").write_text(json.dumps(fp))

    ordered = list(ordered_queries(root=str(tmp_path)))
    assert set(ordered) == set(names)
    assert ordered[0] == names[1]                     # failed first
    # rewritten-since-green (drifted or unrecorded fingerprint) precede
    # never-verified and all plain-green rows
    for rw in (names[5], names[6]):
        assert ordered.index(rw) < ordered.index(names[4])
        assert ordered.index(rw) < ordered.index(names[0])
    # green rotation: round-1 green rows come before round-2 ones
    assert ordered.index(names[0]) < ordered.index(names[3])
    assert ordered.index(names[2]) < ordered.index(names[3])
    # never-verified precede all plain-green rows
    assert ordered.index(names[4]) < ordered.index(names[0])
    # and the registry itself was not mutated by the call
    assert list(QUERIES) == names


def test_fingerprint_tracks_transitive_source_and_oracle():
    """The fingerprint must change when the query fn, a package-local
    helper it calls (even via module attribute), or the oracle SQL
    changes — and must be stable across calls otherwise."""
    from yet_another_map_reduce_spark.fingerprints import (
        _transitive_sources,
        query_fingerprint,
    )
    from yet_another_map_reduce_spark.queries import ORACLES, QUERIES

    name = "dedup_minhash_pairs"
    assert query_fingerprint(name) == query_fingerprint(name)  # stable
    # transitive closure reaches through the `dedup.` module attribute
    # into the operator implementation
    srcs = "\n".join(_transitive_sources(QUERIES[name]))
    assert "def minhash_lsh_pairs" in srcs or "def _lsh_buckets" in srcs
    # oracle SQL participates
    patched = dict(ORACLES)
    patched[name] = (patched.get(name) or "") + " -- changed"
    assert query_fingerprint(name, QUERIES, patched) != query_fingerprint(name)


def test_fingerprint_tracks_module_constants():
    """A rewrite to a module-level DATA constant that drives behavior
    (e.g. a tier-switch threshold or a syllable table) must flip the
    fingerprint of every query that transitively reads it — the
    silent-rewrite class the r8 ADVICE flagged as uncovered."""
    from yet_another_map_reduce_spark import fingerprints as fp
    from yet_another_map_reduce_spark.operators import text
    from yet_another_map_reduce_spark.queries import ORACLES, QUERIES

    name = "text_bpe_tokenize_xl"
    before = fp.query_fingerprint(name, QUERIES, ORACLES)
    orig = text.BPE_CODEGEN_MAX_MERGES
    text.BPE_CODEGEN_MAX_MERGES = orig + 1
    try:
        assert fp.query_fingerprint(name, QUERIES, ORACLES) != before
    finally:
        text.BPE_CODEGEN_MAX_MERGES = orig
    assert fp.query_fingerprint(name, QUERIES, ORACLES) == before

    # runtime caches are session state, not behavior: populating one
    # must NOT drift the fingerprint of queries that read it
    from yet_another_map_reduce_spark import caching

    bpe_q = "text_bpe_tokenize"
    clean = fp.query_fingerprint(bpe_q, QUERIES, ORACLES)
    caching._MEMO[("sentinel",)] = [("a", "b")]
    try:
        assert fp.query_fingerprint(bpe_q, QUERIES, ORACLES) == clean
    finally:
        caching._MEMO.pop(("sentinel",))

    # data-table constants appear in the transitive closure by value
    srcs = fp._transitive_sources(text.synthetic_word_counts)
    assert any("_BPE_SYLLABLES=" in s for s in srcs)
    syl = text._BPE_SYLLABLES
    text._BPE_SYLLABLES = tuple(syl) + ("zzq",)
    try:
        assert fp._transitive_sources(text.synthetic_word_counts) != srcs
    finally:
        text._BPE_SYLLABLES = syl


def test_correctness_history_numeric_round_order(tmp_path):
    """CORRECTNESS_r9.json must sort BEFORE CORRECTNESS_r10.json
    (numeric suffix, not lexicographic position), rounds keep their
    own numbers across gaps, and non-dict rows are skipped."""
    import json

    from yet_another_map_reduce_spark.fingerprints import correctness_history

    green = {"hash_match": True, "err": None, "spark_rows": 1}
    red = {"hash_match": False, "err": "boom", "spark_rows": None}
    # lexicographic order would visit r10 before r9 and mark q red
    (tmp_path / "CORRECTNESS_r9.json").write_text(json.dumps({"q": green}))
    (tmp_path / "CORRECTNESS_r10.json").write_text(
        json.dumps({"q": red, "bad": ["not", "a", "dict"]})
    )
    last_green, last_seen, _rows_only, latest = correctness_history(str(tmp_path))
    assert latest == 10
    assert last_seen["q"] == 10 and last_green["q"] == 9  # red in r10
    assert "bad" not in last_seen  # non-dict row skipped


def test_doc_counts_match_registry():
    """README/COVERAGE registry counts are generated, never typed
    (scripts/update_doc_counts.py); this closes the loop so a registry
    change without a doc regen fails CI instead of rotting."""
    import pathlib
    import re

    from yet_another_map_reduce_spark.queries import QUERIES

    n = len(QUERIES)
    root = pathlib.Path(__file__).resolve().parent.parent
    for rel in ("README.md", "COVERAGE.md"):
        text = (root / rel).read_text()
        for m in re.finditer(r"\b(\d+) named queries\b", text):
            assert int(m.group(1)) == n, f"{rel}: stale count {m.group(0)}"
        for m in re.finditer(r"\bALL (\d+)\b", text):
            assert int(m.group(1)) == n, f"{rel}: stale count {m.group(0)}"


def test_registry_invariants_frozen_and_oracle_mapped():
    """Every registered query must have (a) a frozen baseline row —
    an unfrozen query silently escapes the perf gate — and (b) an
    oracle mapped to a real query; rows-only queries (no oracle) must
    be the documented exceptions only."""
    import json
    import pathlib

    from yet_another_map_reduce_spark.queries import ORACLES, QUERIES

    root = pathlib.Path(__file__).resolve().parent.parent
    frozen = json.loads((root / "BASELINE_QUERIES.json").read_text())["queries"]
    unfrozen = sorted(q for q in QUERIES if q not in frozen)
    assert unfrozen == [], f"registered but not frozen: {unfrozen}"
    orphans = sorted(o for o in ORACLES if o not in QUERIES)
    assert orphans == [], f"oracle without a query: {orphans}"
    rows_only = sorted(q for q in QUERIES if q not in ORACLES)
    assert rows_only == [], (
        "every registered query has an oracle since r10 (text_bpe_"
        "tokenize_8k got the encode-half recursive-CTE oracle) - "
        f"document any new rows-only exception here: {rows_only}"
    )


def test_no_zero_coverage_operator_functions():
    """Every public operator function is referenced by the registry or
    by at least one test — the r11 audit invariant (it caught a registry
    row inlining its own logic and five wrapper functions with no
    coverage anywhere).  Mirrors scripts/audit_registry_refs.py.
    References match on identifier boundaries, not substrings: a name
    that prefixes another identifier (hash_embed vs hash_embed_dense)
    must not read as covered (r11 ADVICE)."""
    import ast
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ops = os.path.join(root, "yet_another_map_reduce_spark", "operators")
    queries_src = open(
        os.path.join(root, "yet_another_map_reduce_spark", "queries.py")
    ).read()
    tests_src = "\n".join(
        open(os.path.join(root, "tests", f)).read()
        for f in os.listdir(os.path.join(root, "tests"))
        if f.endswith(".py")
    )
    uncovered = []
    for mod in sorted(os.listdir(ops)):
        if not mod.endswith(".py") or mod.startswith("_"):
            continue
        tree = ast.parse(open(os.path.join(ops, mod)).read())
        for node in tree.body:
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                and not node.name.startswith("_")
                and not re.search(
                    rf"\b{re.escape(node.name)}\b", queries_src
                )
                and not re.search(rf"\b{re.escape(node.name)}\b", tests_src)
            ):
                uncovered.append(f"{mod[:-3]}.{node.name}")
    assert uncovered == [], (
        f"operator functions with no registry or test reference: {uncovered} "
        "— cover them or delete them (see scripts/audit_registry_refs.py)"
    )


def test_fingerprint_follows_function_local_imports():
    """A dependency reached ONLY through a function-local
    `from pkg.mod import fn` must appear in the transitive closure —
    the r14 blind spot: the banded-Hamming refactor rewrote
    multimodal_phash_neardup's plan code without flipping its
    fingerprint because image_near_dup_pairs imports
    banded_hamming_pairs inside its body."""
    from yet_another_map_reduce_spark import fingerprints as fp
    from yet_another_map_reduce_spark.operators import multimodal
    from yet_another_map_reduce_spark.queries import ORACLES, QUERIES

    srcs = "\n".join(fp._transitive_sources(multimodal.image_near_dup_pairs))
    assert "def banded_hamming_pairs" in srcs
    # and the registered query that rides that path flips when the
    # locally-imported helper's source is (simulated) rewritten
    name = "multimodal_phash_neardup"
    before = fp.query_fingerprint(name, QUERIES, ORACLES)
    from yet_another_map_reduce_spark.operators import dedup

    orig = dedup.banded_hamming_pairs

    def patched(*a, **k):  # pragma: no cover - source only
        return orig(*a, **k)

    dedup.banded_hamming_pairs = patched
    try:
        assert fp.query_fingerprint(name, QUERIES, ORACLES) != before
    finally:
        dedup.banded_hamming_pairs = orig
    assert fp.query_fingerprint(name, QUERIES, ORACLES) == before


def test_shared_only_drift_does_not_outrank_direct_rewrite(tmp_path):
    """r15 verdict #1: an edit to a universally-shared helper
    (session.py) flips ALL 200 fingerprints; the rewritten tier then
    sorted cheapest-first and the driver's 50-query window verified 50
    trivia while the actually-rewritten heavy queries hid at positions
    109-198.  Pin the fix: a query whose OWN component drifted (direct
    rewrite) outranks queries whose only drifted component is shared
    across most of the registry, and the direct tier sorts
    cost-DESCENDING."""
    import json

    from yet_another_map_reduce_spark.fingerprints import query_components
    from yet_another_map_reduce_spark.queries import QUERIES, ordered_queries

    greens = list(QUERIES)[:8]
    green_row = {"hash_match": True, "err": None, "spark_rows": 1}
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({q: green_row for q in greens})
    )
    comps = {q: query_components(q) for q in greens}
    # a component present in every green's closure == universally shared
    shared_keys = set.intersection(*(set(c[1]) for c in comps.values()))
    assert shared_keys, "test premise: greens share at least one component"
    k_shared = sorted(shared_keys)[0]
    direct_a, direct_b, shared_only = greens[0], greens[1], greens[2]
    recorded = {}
    for q, (fpr, parts) in comps.items():
        recorded[q] = {"fingerprint": fpr, "round": 1, "parts": dict(parts)}
    # direct_a / direct_b: simulate a drift in a component unique to the
    # query (its per-query oracle part)
    for q in (direct_a, direct_b):
        recorded[q]["fingerprint"] = "drifted-" + q
        recorded[q]["parts"][f"<oracle>{q}"] = "0" * 12
    # shared_only: ONLY the universally-shared component drifted
    recorded[shared_only]["fingerprint"] = "drifted-" + shared_only
    recorded[shared_only]["parts"][k_shared] = "f" * 12
    (tmp_path / "QUERY_FINGERPRINTS.json").write_text(json.dumps(recorded))
    # frozen costs: direct_b is the expensive one -> must front direct_a
    (tmp_path / "BASELINE_QUERIES.json").write_text(
        json.dumps({"queries": {direct_a: 0.2, direct_b: 9.5, shared_only: 99.0}})
    )

    ordered = list(ordered_queries(root=str(tmp_path)))
    # both direct rewrites outrank the shared-only invalidation, even
    # though the shared-only query is by far the most expensive
    assert ordered.index(direct_a) < ordered.index(shared_only)
    assert ordered.index(direct_b) < ordered.index(shared_only)
    # cost-descending within the direct tier
    assert ordered.index(direct_b) < ordered.index(direct_a)
    # the shared-only invalidation still precedes unchanged green rows
    unchanged = greens[3]
    assert ordered.index(shared_only) < ordered.index(unchanged)


def test_trained_models_retrain_when_source_data_changes(spark, sf_dir, tmp_path):
    """Models memoized by ``caching.trained`` are keyed on the data
    version of their source file: an unchanged file is a memo hit, and
    the same file with a new mtime (data regenerated at the same path)
    retrains instead of serving stale PQ codebooks or BPE merges."""
    import os
    import shutil

    from yet_another_map_reduce_spark.queries import _bpe_merges, _pq_books
    from yet_another_map_reduce_spark.sources.readers import read_table

    d = str(tmp_path)
    for table, model in (("embeddings", _pq_books), ("documents", _bpe_merges)):
        path = os.path.join(d, f"{table}.parquet")
        shutil.copyfile(os.path.join(sf_dir, f"{table}.parquet"), path)
        first = model(read_table(spark, d, table), d)
        assert model(read_table(spark, d, table), d) is first
        st = os.stat(path)
        os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        again = model(read_table(spark, d, table), d)
        assert again is not first, f"{model.__name__} served a stale model"
        assert again == first  # same bytes, deterministic training


def test_data_identity_decided_in_one_place():
    """The file-identity check (``st_mtime_ns``) lives only in
    ``caching.data_version``, and the package keeps exactly one model
    memo, so the staleness decision cannot fork into per-caller copies
    again."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[1]
    sources = {
        p.relative_to(root).as_posix(): p.read_text(encoding="utf-8")
        for sub in ("yet_another_map_reduce_spark", "scripts")
        for p in (root / sub).rglob("*.py")
    }
    assert [p for p, src in sources.items() if "st_mtime_ns" in src] == [
        "yet_another_map_reduce_spark/caching.py"
    ]
    memos = [
        (p, m)
        for p, src in sources.items()
        if p.startswith("yet_another_map_reduce_spark/")
        for m in re.findall(r"^(\w*_MEMO)\s*[:=]", src, re.M)
    ]
    assert memos == [("yet_another_map_reduce_spark/caching.py", "_MEMO")]
