"""Static anti-pattern guards over the package source: the scale rules
VERDICT audits (no row-at-a-time Python UDFs, no driver-side collection
outside the documented bounded sites) pinned as tests so a refactor
can't silently regress them."""

from __future__ import annotations

import ast
import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parents[1] / "noaa_ais_glue_lakehouse_spark"

# Documented bounded collects, pinned to (file, enclosing function,
# exact occurrence count). A new collect anywhere — including inside an
# already-allowlisted file — fails this test until it's reviewed and
# added here with its bound documented:
#   - _pair_cosine_by_index_udf: broadcast-matrix build (|corpus|
#     vectors; opt-in path, caller-bounded memory regime)
#   - _train_centroids: k-means training sample, .limit(kmeans_sample)
#     (default 10k rows) precedes the collect
#   - _bpe_merge_rounds (bpe_merges body): .limit(1) argmax, one row
#     per merge round
#   - list_partitions: distinct partition TUPLES (bounded by partition
#     count, not row count)
#   - delete_keys_partition_scoped: affected-partition tuples ×2 plus
#     emptied-partition tuples — all distinct-partition-bounded
#   - write_versioned_wap: the WAP audit report — one row per RULE
#     (rule-count-bounded, never data-bounded)
#   - q423_markov_attribution / q430_shapley_attribution: the
#     (scenario, i, j, q_e6) transition matrix — bounded by the channel
#     VOCABULARY (≤ scenarios·states², ~250-900 rows at ANY corpus
#     scale; the registry's build_time_exec tag documents the regime).
#     The 30 value-iteration rounds run on the driver in exact int64
#     arithmetic (_shared._absorb_iterate_start) instead of 30 Spark
#     jobs of pure scheduler overhead over a few hundred rows.
#   - global_running_sum: the range-bound sample of the order key,
#     .limit(100 * spark.sql.shuffle.partitions) precedes the collect
#     (<= 100·n rows at any corpus scale)
ALLOWED_COLLECT_SITES = {
    ("operators/similarity.py", "_pair_cosine_by_index_udf"): 1,
    ("plans/catalog/events.py", "q423_markov_attribution"): 1,
    ("plans/catalog/events.py", "q430_shapley_attribution"): 1,
    ("sources/writers.py", "write_versioned_wap"): 1,
    ("operators/similarity.py", "_train_centroids"): 1,
    ("operators/tokenizer.py", "_bpe_merge_rounds"): 1,
    ("sources/writers.py", "list_partitions"): 1,
    ("sources/writers.py", "delete_keys_partition_scoped"): 3,
    ("operators/ordering.py", "global_running_sum"): 1,
}


def _sources():
    for p in PKG.rglob("*.py"):
        yield p.relative_to(PKG).as_posix(), p.read_text()


def test_no_row_at_a_time_python_udfs():
    pat = re.compile(r"(^|\W)(F\.udf\(|@udf\(|pandas_udf\s*=)", re.M)
    offenders = [f for f, src in _sources() if pat.search(src)]
    assert not offenders, f"row-at-a-time UDF in: {offenders}"


def test_no_topandas_in_package():
    offenders = [f for f, src in _sources() if ".toPandas()" in src]
    assert not offenders, f"toPandas in: {offenders}"


def _collect_sites(src: str) -> dict[str, int]:
    """Map enclosing top-level ``def`` name -> number of ``.collect()``
    occurrences inside it (module-level collects map to ``<module>``)."""
    sites: dict[str, int] = {}
    current = "<module>"
    for line in src.splitlines():
        m = re.match(r"def\s+(\w+)", line)
        if m:
            current = m.group(1)
        if ".collect()" in line:
            sites[current] = sites.get(current, 0) + 1
    return sites


def test_collect_only_at_documented_sites():
    found: dict[tuple[str, str], int] = {}
    for f, src in _sources():
        for func, n in _collect_sites(src).items():
            found[(f, func)] = n
    assert found == ALLOWED_COLLECT_SITES, (
        "collect sites drifted from the documented allowlist: "
        f"unexpected={{k: v for k, v in found.items() if ALLOWED_COLLECT_SITES.get(k) != v}} "
        f"found={found}"
    )


def test_no_rdd_api():
    # allowed: the partition-COUNT probe in spread_partitions (metadata
    # only — no data crosses the RDD boundary, no job runs)
    pat = re.compile(r"\.rdd\b(?!\.getNumPartitions)|sparkContext\.parallelize")
    offenders = [f for f, src in _sources() if pat.search(src)]
    assert not offenders, f"RDD API in: {offenders}"


# ---------------------------------------------------------------------------
# int64 hash-multiply overflow class (round-7 verdict ask #2)
# ---------------------------------------------------------------------------
#
# The portable hash family multiplies ids by ~2^31-sized Knuth primes
# (2654435761, 2246822519). An UNREDUCED `id * prime` wraps silently in
# Spark and errors in DuckDB once ids pass ~2^31.7 — divergent failure
# modes at corpus scale that every past instance (q361/q365/q376) had to
# be caught by hand. This scan closes the class mechanically: every
# multiplication by a [2^31, 2^33) integer literal must have a visible
# pre-reduction (`% 2147483648`, `pmod(..., 1 << 31)`, or a reduced
# multiplier like `(2654435761 % 3)`) within the preceding context, or
# be an allowlisted pure-Python (arbitrary-precision) site.

_BIG_MUL_SAFE_MARKERS = ("2147483648", "pmod", "1 << 31", "1<<31")

# (relative file, required nearby substring) -> justification
_BIG_MUL_PY_SCALAR_SITES = {
    ("operators/dedup.py", "minhash_portable_slot_consts"):
        "driver-side Python int math (arbitrary precision, cannot wrap); "
        "constants are reduced mod P before any column expression",
}


def _big_mul_occurrences(src: str):
    """Yield (offset, literal) for every ``*``-adjacent integer literal
    in [2^31, 2^33) — multiplier or multiplicand position, Python/SQL/
    F.lit alike. `% literal` (modulus) uses are ignored."""
    for m in re.finditer(r"\b(\d{10})\b", src):
        v = int(m.group(1))
        # odd only: the hash primes are odd; even 10-digit literals are
        # unit scale factors (3600000000) or the 2^31/2^32 moduli
        if not (2**31 <= v < 2**33) or v % 2 == 0:
            continue
        line_start = src.rfind("\n", 0, m.start()) + 1
        if src[line_start:m.start()].lstrip().startswith("#"):
            continue  # comment
        before = src[max(0, m.start() - 24):m.start()]
        after = src[m.end():m.end() + 24]
        left_mul = re.search(r"\*\s*(?:F\.lit\()?\s*$", before)
        right_mul = re.match(r"\s*\)?\s*\*", after)
        # `lit % small` immediately after the literal = reduced multiplier
        reduced_multiplier = re.match(r"\s*%\s*\d{1,6}\b", after)
        if (left_mul or right_mul) and not reduced_multiplier:
            yield m.start(), m.group(1)


def test_hash_prime_multiplies_are_pre_reduced():
    offenders = []
    for f, src in _sources():
        for off, lit in _big_mul_occurrences(src):
            ctx = src[max(0, off - 260):off]
            if any(mk in ctx for mk in _BIG_MUL_SAFE_MARKERS):
                continue
            line_no = src.count("\n", 0, off) + 1
            allowed = False
            for (af, near), _why in _BIG_MUL_PY_SCALAR_SITES.items():
                if f == af and near in src[max(0, off - 2000):off + 2000]:
                    allowed = True
                    break
            if not allowed:
                offenders.append(f"{f}:{line_no} (* {lit})")
    assert not offenders, (
        "unreduced big-prime multiply (int64 overflow at corpus-scale ids; "
        "pre-reduce with `% 2147483648` / pmod on BOTH engines): "
        + ", ".join(offenders)
    )


# ---------------------------------------------------------------------------
# cents-of-a-product rounding class (round-8 verdict ask #1, q388/X318)
# ---------------------------------------------------------------------------
#
# ROUND applied to a PRODUCT of cent-quantized doubles lands EXACTLY on
# the .5 rounding boundary (~313 lineitem rows at sf0.1 measured within
# 1e-9 of it), and which way a binary .5 rounds differs between engine
# builds (JVM BigDecimal HALF_UP on the shortest decimal repr vs a C
# library round on the binary value) — q388 hash-FAILed the round-8
# driver gate this way while passing the local oracle. Money products
# must recover exact integers PER FACTOR and round half-up in pure
# integer arithmetic: use disc_price_cents / charge_cents /
# disc_rev_cents and their sql_* mirrors in plans/catalog/_shared.py.
# ROUND(money_col * 10^k) stays legal: a 2-dp column times a multiple of
# 100 is never near the boundary.

_MONEY_COL = r"(?:l_extendedprice|l_discount|l_tax|p_retailprice|o_totalprice)"
_MONEY_PRODUCT_PATTERNS = [
    # the exact-integer helper (single-quantized-column contract) around
    # a product — the original q388 form
    re.compile(r"(?<![\w_])cents\(\s*F\.col\([^)]+\)\s*\*"),
]

# Round 10 (ADVICE): the old per-pattern regexes only matched a money
# column as the syntactically FIRST factor with no parentheses, so
# `ROUND((l_extendedprice) * ...)`, `ROUND(x * l_extendedprice)`, or a
# money column buried deeper in the argument all slipped past. The
# hardened rule scans every ROUND/F.round call's BALANCED-PAREN argument
# as a whole: flag when it mentions a money column AND contains any `*`
# whose neighbors are not a power-of-ten literal (the only benign money
# multiply — a 2-dp column times 10^k is never near the .5 boundary).
_ROUND_CALL = re.compile(r"(?i)(?<![\w.])(?:F\s*\.\s*)?round\s*\(")
_MONEY_COL_RE = re.compile(_MONEY_COL)
_POW10 = re.compile(
    r"^\s*(?:CAST\s*\()?\s*-?(?:100|10000|1000000)(?:\.0+)?D?\s*[),+%\s]"
)
_POW10_LEFT = re.compile(
    r"(?:100|10000|1000000)(?:\.0+)?D?\s*$"
)


def _balanced_arg(src: str, open_paren: int) -> str:
    """Text of the balanced parenthesized span starting at ``(``."""
    depth = 0
    for i in range(open_paren, min(len(src), open_paren + 2000)):
        c = src[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return src[open_paren + 1 : i]
    return src[open_paren + 1 : open_paren + 2000]


def _round_money_product_offsets(src: str):
    """Start offsets of ROUND calls whose argument mixes a money column
    with a non-power-of-ten multiply (the q388/X318 class, hardened)."""
    for m in _ROUND_CALL.finditer(src):
        arg = _balanced_arg(src, m.end() - 1)
        if not _MONEY_COL_RE.search(arg):
            continue
        for k, ch in enumerate(arg):
            if ch != "*" or (k and arg[k - 1] == "*") or arg[k : k + 2] == "**":
                continue
            left = arg[:k].rstrip()
            right = arg[k + 1 :].lstrip()
            if left.endswith("(") or right.startswith(")"):
                continue  # COUNT(*) / SELECT * — not a multiply
            right_pow10 = _POW10.match(arg[k + 1 :] + " ")
            left_pow10 = _POW10_LEFT.search(left)
            if not (right_pow10 or left_pow10):
                yield m.start()
                break


def _all_sources():
    yield from _sources()
    root = PKG.parent
    for extra in ("tests", "tools"):
        for p in (root / extra).rglob("*.py"):
            if p.name == "test_code_hygiene.py":
                continue
            yield p.relative_to(root).as_posix(), p.read_text()
    for name in ("__spark_entry__.py", "bench.py"):
        p = root / name
        if p.exists():
            yield name, p.read_text()


def test_no_round_of_money_products():
    offenders = []
    for f, src in _all_sources():
        for pat in _MONEY_PRODUCT_PATTERNS:
            for m in pat.finditer(src):
                line_no = src.count("\n", 0, m.start()) + 1
                offenders.append(f"{f}:{line_no} ({m.group(0)[:48]!r})")
        for off in _round_money_product_offsets(src):
            line_no = src.count("\n", 0, off) + 1
            offenders.append(
                f"{f}:{line_no} ({src[off : off + 48]!r})"
            )
    assert not offenders, (
        "ROUND/cents() applied to a money PRODUCT (cross-engine "
        ".5-boundary nondeterminism, the q388/X318 class; use the "
        "integer-product helpers in plans/catalog/_shared.py): "
        + ", ".join(offenders)
    )


def test_spark_session_built_only_in_session_factory():
    # one place decides every session's confs: the profiles in
    # session.py. A hand-copied builder chain elsewhere drifts from them
    # (bench's drift rerun once ran without -XX:-ClassUnloading).
    offenders = [
        f for f, src in _all_sources()
        if "SparkSession.builder" in src and f != "session.py"
    ]
    assert not offenders, (
        "SparkSession.builder outside session.py (use "
        "session.get_spark(profile=...)): " + ", ".join(offenders)
    )


# ---------------------------------------------------------------------------
# dead code in the IO and pipeline layers
# ---------------------------------------------------------------------------
#
# A public function in sources/ or pipelines/ that nothing runs is a second
# way to do a job (a duplicate reader, a sink the pipelines bypass) or an
# option nobody sets. Each must have a caller outside tests, or be named in
# COVERAGE.md as surveyed surface with its evidence. A caller is a name or
# attribute reference, or a string equal to the name (perfbench wraps the
# pipeline layers by name), outside the function's own body.


def _caller_sources():
    root = PKG.parent
    yield from PKG.rglob("*.py")
    for sub in ("tools", "perfbench"):
        yield from (root / sub).rglob("*.py")
    for name in ("__spark_entry__.py", "bench.py"):
        if (root / name).exists():
            yield root / name


def _references() -> set[tuple[str, pathlib.Path, str]]:
    """(name, file, enclosing top-level def or class) per reference."""
    refs = set()
    for p in _caller_sources():
        for top in ast.parse(p.read_text()).body:
            owner = getattr(top, "name", "")
            for n in ast.walk(top):
                if isinstance(n, ast.Name):
                    refs.add((n.id, p, owner))
                elif isinstance(n, ast.Attribute):
                    refs.add((n.attr, p, owner))
                elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                    refs.add((n.value, p, owner))
    return refs


def test_io_and_pipeline_functions_have_a_caller_or_coverage_row():
    refs = _references()
    coverage = (PKG.parent / "COVERAGE.md").read_text()
    dead = []
    for sub in ("sources", "pipelines"):
        for p in sorted((PKG / sub).glob("*.py")):
            for top in ast.parse(p.read_text()).body:
                if not isinstance(top, ast.FunctionDef) or top.name.startswith("_"):
                    continue
                called = any(
                    name == top.name and (f, owner) != (p, top.name) for name, f, owner in refs
                )
                if not called and not re.search(rf"\b{top.name}\b", coverage):
                    dead.append(f"{sub}/{p.name}::{top.name}")
    assert not dead, (
        "public functions with no caller in the package, tools/, bench.py "
        "or perfbench/ and no COVERAGE.md row (delete them, or record the "
        "surveyed surface they cover): " + ", ".join(dead)
    )
