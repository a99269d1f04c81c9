"""Source fingerprints for the verification rotation.

The driver verifies a rotating window of queries each round; a query
whose plan was REWRITTEN after its last driver-green row is silently
stale — builder-side parity covers it, but the driver's DuckDB oracle
(the hard signal) has not seen the new plan.  A pure
oldest-green-first rotation ranks such a query BEHIND merely-stale
rows and can miss it for several rounds (round-7 verdict, item 1).

``query_fingerprint(name)`` hashes the query function's source plus
the source of every package-local function it transitively references
(through module attributes, nested code objects, and closure cells)
plus its oracle SQL.  ``scripts/record_fingerprints.py`` snapshots the
fingerprint of each query that went green in the latest CORRECTNESS
round — run it FIRST THING each round, before editing, while HEAD is
still exactly the code the driver verified.  ``ordered_queries()``
then ranks any green query whose CURRENT fingerprint differs from its
recorded green-time fingerprint (or that has no record at all) ahead
of merely-stale greens.

Over-approximation is deliberate: a whitespace edit to a shared
helper flips every caller's fingerprint and triggers re-verification
of them all.  The scheme hashes transitive function source, the
source of referenced package classes, stable renderings of referenced
plain-data constants (module-level tunables like tier-switch
thresholds and data tables), and the oracle SQL.  References resolve
through module globals AND through function-local imports (``from
pkg.mod import fn`` inside a body — the r14 blind spot: a refactor of
a locally-imported helper rewrote a query's plan code without
flipping its fingerprint).  Residual blind spot, by design: a rewrite
reachable only through a non-plain object (an instance with identity
``repr``, state read from disk) does not flip the fingerprint — hash
coverage errs toward checking for code and plain data, but is not a
total-behavior hash.
"""

from __future__ import annotations

import functools
import hashlib
import inspect
import json
import os
import re
import types

_PKG = "yet_another_map_reduce_spark"

FINGERPRINTS_FILE = "QUERY_FINGERPRINTS.json"

_PLAIN = (str, bytes, int, float, complex, bool, type(None))

#: module-level names that are RUNTIME-MUTATED caches, not behavior
#: constants: hashing their contents would make a query's fingerprint
#: depend on what already ran in the session (empty at import, populated
#: after first use).  Repo convention: name every runtime cache with one
#: of these suffixes and it is excluded from fingerprints automatically.
_CACHE_NAME_RE = re.compile(r".*(_CACHE|_MEMO|_TRACKED)$")


def _stable_repr(obj: object, depth: int = 0) -> str | None:
    """Deterministic rendering of plain-data values (the module-level
    constants that drive query behavior: thresholds, syllable tables,
    schema dicts).  Returns None for anything whose ``repr`` is not
    content-stable (instances with identity reprs, ndarrays, ...) —
    those are deliberately excluded from the hash."""
    if depth > 6:
        return "<deep>"
    if isinstance(obj, _PLAIN):
        return repr(obj)
    if isinstance(obj, (tuple, list)):
        parts = [_stable_repr(x, depth + 1) for x in obj]
        if any(p is None for p in parts):
            return None
        return f"{type(obj).__name__}[{','.join(parts)}]"  # type: ignore[arg-type]
    if isinstance(obj, (set, frozenset)):
        parts = [_stable_repr(x, depth + 1) for x in obj]
        if any(p is None for p in parts):
            return None
        return f"{type(obj).__name__}[{','.join(sorted(parts))}]"  # type: ignore[arg-type]
    if isinstance(obj, dict):
        parts = []
        for k, v in obj.items():
            kr = _stable_repr(k, depth + 1)
            vr = _stable_repr(v, depth + 1)
            if kr is None or vr is None:
                return None
            parts.append(f"{kr}:{vr}")
        return "dict{" + ",".join(parts) + "}"
    if isinstance(obj, re.Pattern):
        return f"re({obj.pattern!r},{obj.flags})"
    return None


def _transitive_sources(fn: types.FunctionType) -> list[str]:
    """Source of ``fn`` plus every package-local function AND class it
    (transitively) references, plus stable renderings of referenced
    plain-data constants.  References are found via code-object
    ``co_names`` (globals and module-attribute reads like
    ``dedup.minhash_lsh_pairs`` or ``text.BPE_CODEGEN_MAX_MERGES``),
    nested code objects (inner functions / lambdas), and closure
    cells.  Deterministically ordered by qualified name."""
    sources: dict[str, str] = {}
    stack: list[types.FunctionType] = [fn]
    names: set[str] = set()
    seen_mods: set[str] = set()

    def _visit(name: str, obj: object, owner: str) -> None:
        """Classify one referenced object: package functions recurse,
        package classes contribute their full class source (method
        bodies included textually), package MODULES fan out to their
        attributes whose names also appear in the referencing
        function's co_names (covers both ``mod.attr`` reads and
        function-local ``from mod import attr``), ``functools.partial``
        recurses into its func and hashes plain args, plain data hashes
        by value.  Runtime caches (``*_CACHE`` / ``*_MEMO`` /
        ``*_TRACKED``) are session state, not behavior, and are
        excluded."""
        if _CACHE_NAME_RE.match(name):
            return
        if isinstance(obj, types.ModuleType):
            mn = obj.__name__ or ""
            if mn.startswith(_PKG) and mn not in seen_mods:
                seen_mods.add(mn)
                for an in sorted(names):
                    a = getattr(obj, an, None)
                    if a is not None:
                        _visit(an, a, mn)
            return
        if isinstance(obj, types.FunctionType):
            if (obj.__module__ or "").startswith(_PKG):
                stack.append(obj)
            return
        if isinstance(obj, type):
            if (getattr(obj, "__module__", "") or "").startswith(_PKG):
                key = f"{obj.__module__}.{obj.__qualname__}"
                if key not in sources:
                    try:
                        sources[key] = inspect.getsource(obj)
                    except (OSError, TypeError):
                        sources[key] = f"<nosource:{key}>"
            return
        if isinstance(obj, functools.partial):
            _visit(name, obj.func, owner)
            tok = _stable_repr((obj.args, obj.keywords))
            if tok is not None:
                sources[f"<partial>{owner}.{name}"] = tok
            return
        tok = _stable_repr(obj)
        if tok is not None:
            sources[f"<const>{owner}.{name}"] = f"{name}={tok}"

    while stack:
        f = stack.pop()
        key = f"{f.__module__}.{f.__qualname__}"
        if key in sources:
            continue
        try:
            sources[key] = inspect.getsource(f)
        except (OSError, TypeError):
            sources[key] = f"<nosource:{key}>"
        g = getattr(f, "__globals__", {})
        # names/seen_mods are the closure state _visit fans modules out
        # with — rebuilt per function so attribute matching is scoped to
        # THIS function's co_names
        names.clear()
        seen_mods.clear()
        codes = [f.__code__]
        while codes:
            c = codes.pop()
            names.update(c.co_names)
            codes.extend(
                k for k in c.co_consts if isinstance(k, types.CodeType)
            )
        owner = f.__module__ or "<unknown>"
        for n in sorted(names):
            obj = g.get(n)
            if obj is None:
                # function-LOCAL imports don't resolve through globals:
                # `from pkg.mod import fn` / `import pkg.mod` inside a
                # body leaves only the dotted module string and the
                # bare attr names in co_names.  Resolving the dotted
                # module and fanning out to its co_names-matching
                # attributes (via the module branch of _visit) closes
                # the blind spot where a local-import dependency could
                # be rewritten without flipping its callers'
                # fingerprints (caught r14: the banded-Hamming refactor
                # didn't flag multimodal_phash_neardup).
                if "." in n and n.startswith(_PKG):
                    import importlib

                    try:
                        mod = importlib.import_module(n)
                    except ImportError:
                        continue
                    _visit(n, mod, owner)
                continue
            _visit(n, obj, owner)
        for i, cell in enumerate(getattr(f, "__closure__", None) or ()):
            try:
                _visit(f"<cell{i}>", cell.cell_contents, key)
            except ValueError:
                pass  # empty cell
    return [f"{k}\x01{sources[k]}" for k in sorted(sources)]


def query_components(
    name: str,
    queries: dict | None = None,
    oracles: dict | None = None,
) -> tuple[str, dict[str, str]]:
    """``(fingerprint, components)`` for a registered query: the
    rolled-up hex digest (identical to :func:`query_fingerprint`) plus
    a per-component short hash keyed by qualified source name.  The
    component map lets a later pass attribute WHICH part of the
    transitive closure drifted — a query's own function or a
    narrowly-shared operator helper (a direct rewrite) vs a
    universally-shared helper like the session builder (which flips
    every caller at once and carries no per-query signal)."""
    if queries is None or oracles is None:
        from yet_another_map_reduce_spark.queries import ORACLES, QUERIES

        queries = queries if queries is not None else QUERIES
        oracles = oracles if oracles is not None else ORACLES
    h = hashlib.sha256()
    comps: dict[str, str] = {}
    for part in _transitive_sources(queries[name]):
        h.update(part.encode("utf-8", "replace"))
        h.update(b"\0")
        key, _, src = part.partition("\x01")
        comps[key] = hashlib.sha256(src.encode("utf-8", "replace")).hexdigest()[:12]
    sql = oracles.get(name)
    if sql is not None:
        h.update(sql.encode("utf-8", "replace"))
        # the oracle component is keyed PER QUERY: every oracle-bearing
        # query has an oracle part, so a bare "<oracle>" key would have
        # registry-wide spread and an oracle edit would misclassify as
        # shared-only drift
        comps[f"<oracle>{name}"] = hashlib.sha256(
            sql.encode("utf-8", "replace")
        ).hexdigest()[:12]
    return h.hexdigest(), comps


def query_fingerprint(
    name: str,
    queries: dict | None = None,
    oracles: dict | None = None,
) -> str:
    """Stable hex digest of a registered query's transitive source +
    oracle SQL.  Changes iff the query's plan-producing code or its
    oracle contract changed."""
    return query_components(name, queries, oracles)[0]


_ROUND_RE = re.compile(r"^CORRECTNESS_r(\d+)\.json$")


def correctness_history(
    root: str,
) -> tuple[dict[str, int], dict[str, int], dict[str, bool], int]:
    """Parse every CORRECTNESS_r*.json under ``root`` in NUMERIC round
    order (``r9`` sorts before ``r10``; lexicographic ordering would
    silently mis-attribute last-green rounds) and return
    ``(last_green, last_seen, green_was_rows_only, latest_round)``
    keyed by query name.  Round numbers are the files' own numeric
    suffixes, not enumeration positions, so a missing round leaves a
    gap instead of renumbering history.  Non-dict rows are skipped."""

    def _is_green(row: dict) -> bool:
        if row.get("hash_match") is True:
            return True
        # oracle-less rows-only contract: green ONLY if the driver
        # actually compared row counts.  A row recorded as
        # {err: no_oracle, rows_match: null} means NO check of any kind
        # ran — counting it green would self-certify (r9 verdict:
        # text_bpe_tokenize_8k rode this exact divergence).
        return row.get("err") == "no_oracle" and row.get("rows_match") is True

    last_green: dict[str, int] = {}
    last_seen: dict[str, int] = {}
    green_was_rows_only: dict[str, bool] = {}
    rounds: list[tuple[int, str]] = []
    for n in os.listdir(root):
        m = _ROUND_RE.match(n)
        if m:
            rounds.append((int(m.group(1)), n))
    rounds.sort()
    latest = rounds[-1][0] if rounds else 0
    for rnd, name in rounds:
        try:
            with open(os.path.join(root, name)) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for q, row in rows.items():
            if not isinstance(row, dict):
                continue
            last_seen[q] = rnd
            if _is_green(row):
                last_green[q] = rnd
                green_was_rows_only[q] = row.get("hash_match") is not True
    return last_green, last_seen, green_was_rows_only, latest


def load_recorded(root: str) -> dict[str, dict]:
    """``{query: {"fingerprint": hex|None, "round": N}}`` as committed
    by scripts/record_fingerprints.py; empty dict if absent."""
    try:
        with open(os.path.join(root, FINGERPRINTS_FILE)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


#: a drifted component is "shared" (carries no per-query signal) when it
#: appears in the transitive closure of at least this fraction of the
#: queries under classification — e.g. the session builder or a registry
#: loader, which flip EVERY caller's fingerprint on any edit.
SHARED_SPREAD_FRACTION = 0.5


def classify_rewritten(
    root: str,
    green_queries: list[str],
    queries: dict | None = None,
    oracles: dict | None = None,
) -> tuple[set[str], set[str]]:
    """``(rewritten, direct)``: ``rewritten`` is the subset of
    ``green_queries`` whose current fingerprint differs from the
    recorded green-time fingerprint (or that has no usable record);
    ``direct`` ⊆ ``rewritten`` are those whose drift includes at least
    one NON-universally-shared component — the query's own function,
    its oracle SQL, or an operator helper with limited fan-out.

    The distinction exists because a one-line edit to a module in every
    query's closure (session.py in r15) flips all 200 fingerprints at
    once; ranking that tier by cost-ascending then let the actually
    rewritten heavy queries dodge the driver's 50-query oracle window
    entirely (r15 verdict #1).  Direct rewrites must outrank
    shared-only invalidations.  Classification errs toward ``direct``:
    v1 records without component parts, missing records, and stale
    markers all classify direct (unknown provenance == assume a real
    rewrite)."""
    recorded = load_recorded(root)
    rewritten: set[str] = set()
    direct: set[str] = set()
    current: dict[str, dict[str, str]] = {}
    for q in green_queries:
        fpr, comps = query_components(q, queries, oracles)
        current[q] = comps
        rec = recorded.get(q)
        if not rec or not rec.get("fingerprint"):
            rewritten.add(q)
            direct.add(q)
            continue
        if fpr != rec["fingerprint"]:
            rewritten.add(q)
            if not isinstance(rec.get("parts"), dict) or not rec["parts"]:
                direct.add(q)
    # spread(key) = number of classified queries whose closure (current
    # or recorded) contains the component; keys near registry-wide
    # spread carry no per-query signal
    spread: dict[str, int] = {}
    for q in green_queries:
        rec = recorded.get(q) or {}
        parts = rec.get("parts") if isinstance(rec.get("parts"), dict) else {}
        for k in set(current[q]) | set(parts):
            spread[k] = spread.get(k, 0) + 1
    threshold = SHARED_SPREAD_FRACTION * max(len(green_queries), 1)
    for q in rewritten - direct:
        rec_parts = recorded[q]["parts"]
        cur = current[q]
        changed = {
            k
            for k in set(rec_parts) | set(cur)
            if rec_parts.get(k) != cur.get(k)
        }
        if any(spread.get(k, 0) < threshold for k in changed):
            direct.add(q)
    return rewritten, direct
