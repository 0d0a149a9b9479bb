"""Mechanical lint for the decimal-LITERAL division trap (VERDICT r10
ask #3 — the class has bitten three rounds running: Theil r9, Gumbel
r10, anisotropy r11-staging).

The trap: in BOTH Spark SQL and DuckDB, ``1.0/12.0`` parses as
DECIMAL(2,1)/DECIMAL(3,1) and performs truncated DECIMAL division
(0.083333…, scale-limited), NOT double division — so the cross-engine
oracle gate stays green while the constant itself is wrong (the r10
Gumbel key agreed cross-engine while being 4e-7 off the true 1/12).
Only a plain-Python replay catches it after the fact; this test
catches it at write time.

What is flagged: a division whose BOTH operands are numeric literals
with at least one carrying a decimal point (``1.0/12.0``, ``1.0/12``,
``1/3.0``) inside any STRING CONSTANT of the engine package (F.expr /
selectExpr / SQL fragments) or any registered DuckDB oracle.  Literal/
literal is exactly the shape all three historical bites had; mixed
shapes (``expr / 1000000.0``) promote to DOUBLE whenever the other
side is DOUBLE and are the repo's standard micro idiom, so they stay
out of scope (limits documented, not hidden).

Fix idiom when a true-ratio constant is needed:
``cast(1 as double) / 12`` (double/int -> double division) — see
events_monthly_max_gumbel (round9b.py) and the memory of the r10 fix.

Waivers: audited sites where decimal-literal division is INTENTIONAL
(the truncated-decimal result is itself the contract) are listed in
``WAIVERS`` with the audit rationale.
"""

import ast
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# literal / literal with at least one decimal point on either side.
# Lookarounds keep the operands whole (no identifier/number tails) so
# `(r-0.3)/(n+0.4)` — a paren between literal and slash — never matches.
_DIV = re.compile(
    r"(?<![\w.])(\d+\.\d+|\d+)\s*/\s*(\d+\.\d+|\d+)(?![\w.])"
)


def _literal_literal_hits(text: str):
    out = []
    for m in _DIV.finditer(text):
        a, b = m.group(1), m.group(2)
        if "." in a or "." in b:
            out.append(m.group(0))
    return out


# (relpath-or-oracle-key, exact matched snippet) -> audit rationale.
# Empty today: the three historical sites are already rewritten to
# cast-as-double division; new hits must be fixed or audited+waived.
WAIVERS: dict = {}


def _iter_string_constants(path: str):
    """Every string constant in a .py file EXCEPT docstrings (module/
    class/function leading strings talk formulas at humans, not at a
    SQL parser)."""
    with open(path) as fh:
        tree = ast.parse(fh.read(), filename=path)
    doc_nodes = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                   ast.AsyncFunctionDef)
        ):
            body = getattr(node, "body", [])
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                doc_nodes.add(id(body[0].value))
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in doc_nodes
        ):
            yield node.lineno, node.value


def _engine_py_files():
    for root, _dirs, files in os.walk(os.path.join(REPO, "faconne_spark")):
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.join(root, f)
    yield os.path.join(REPO, "__spark_entry__.py")


def test_no_decimal_literal_division_in_engine_strings():
    bad = []
    for path in _engine_py_files():
        rel = os.path.relpath(path, REPO)
        for lineno, s in _iter_string_constants(path):
            for hit in _literal_literal_hits(s):
                if (rel, hit) not in WAIVERS:
                    bad.append(f"{rel}:{lineno}: {hit!r}")
    assert not bad, (
        "decimal-literal division in engine SQL strings (truncated "
        "DECIMAL division in Spark AND DuckDB — write "
        "`cast(a as double) / b`):\n" + "\n".join(bad)
    )


def test_no_decimal_literal_division_in_oracles():
    """Registered oracles — the runtime dict values also close the
    f-string blind spot of the ast scan (an interpolated fragment like
    '{j}/20.0' joins into a literal/literal division only at runtime)."""
    from faconne_spark.queries import all_oracles

    bad = []
    for key, sql in all_oracles().items():
        if not isinstance(sql, str):
            continue
        for hit in _literal_literal_hits(sql):
            if (key, hit) not in WAIVERS:
                bad.append(f"{key}: {hit!r}")
    assert not bad, (
        "decimal-literal division in DuckDB oracles:\n" + "\n".join(bad)
    )


def test_lint_catches_the_planted_gumbel_trap():
    """The r10 bite verbatim must be flagged (and the audited-good
    idioms must NOT be)."""
    assert _literal_literal_hits("sqrt(6.0) * s / pi() * (1.0/12.0)")
    assert _literal_literal_hits("x + 1.0/12")  # decimal/int: also DECIMAL
    assert _literal_literal_hits("y * 1/3.0")
    # the fix idiom and the standard micro idioms stay clean
    assert not _literal_literal_hits("cast(1 as double) / 12")
    assert not _literal_literal_hits("round(s / 1000000.0, 0)")
    assert not _literal_literal_hits("(r - 0.3) / (n + 0.4)")
    assert not _literal_literal_hits("percentile(v, 0.5)")


# ===================== DECIMAL-`//` lint (VERDICT r11 ask #2) ==========
#
# The fourth bite of the division family: DuckDB `//` on DECIMAL
# operands is TRUE division (only integer types truncate like Spark
# `div`), so `(2*sum(t)+n) // (2*n)` silently stops truncating when
# `t` is a DECIMAL product — the exact shape that bit the language-mix
# entropy draft at r12 staging.  tools/intdiv_lint.py proves every
# `//` operand integer-typed from the text (suffix/int casts, integer
# builtins, sum/max/CASE recursion, alias fixpoint, DATE-DATE,
# struct-literal fields, int-list element extracts; lambda params are
# integer-assumed — perimeter documented in the module docstring).

# (oracle-key, operand-snippet) -> audit rationale for sites the
# prover cannot reach.  EMPTY today: the whole registry
# proves clean.  A new unprovable site must be rewritten cast-first or
# audited into this dict with its type derivation.
WAIVERS_INTDIV: dict = {}


def test_no_unprovable_intdiv_in_oracles():
    from faconne_spark.queries import all_oracles
    from tools.intdiv_lint import scan_sql

    bad = []
    for key, sql in sorted(all_oracles().items()):
        if not isinstance(sql, str):
            continue
        for side, op in scan_sql(sql):
            if (key, op) not in WAIVERS_INTDIV:
                bad.append(f"{key} [{side}] {op!r}")
    assert not bad, (
        "`//` operand not provably integer-typed (DuckDB `//` on "
        "DECIMAL is TRUE division — cast the aggregate `::BIGINT` "
        "first, or audit + waive):\n" + "\n".join(bad)
    )


_LANG_MIX_DRAFT_BITE = """
WITH cells AS (
  SELECT source, lang, count(*)::BIGINT AS c
  FROM documents GROUP BY 1, 2),
tot AS (SELECT source, sum(c)::BIGINT AS n FROM cells GROUP BY 1),
terms AS (
  SELECT c0.source, n,
         c::DECIMAL(38,0)
           * round(ln(n::DOUBLE / c) * 1000000, 0)::BIGINT AS t
  FROM cells c0 JOIN tot USING (source))
SELECT source, ((2 * sum(t) + max(n)) // (2 * max(n)))::BIGINT AS e
FROM terms GROUP BY 1
"""


def test_intdiv_lint_catches_the_planted_lang_mix_trap():
    """The verbatim r12-staging bite must flag; the shipped fix
    (sum(t)::BIGINT before the half-up div) must scan clean."""
    from tools.intdiv_lint import scan_sql

    flags = scan_sql(_LANG_MIX_DRAFT_BITE)
    assert flags and flags[0][0] == "left" and "sum(t)" in flags[0][1]
    assert not scan_sql(
        _LANG_MIX_DRAFT_BITE.replace("sum(t)", "sum(t)::BIGINT")
    )


def test_intdiv_prover_unit_shapes():
    from tools.intdiv_lint import build_env, provably_int, scan_sql

    env = build_env("SELECT 1")
    # a suffix cast binds ONE factor, not the chain (the precedence
    # trap the first prover draft had)
    assert not provably_int("c::DECIMAL(38,0) * x::BIGINT", env)
    assert provably_int("c::BIGINT * x::BIGINT", env)
    # sum over provably-integer summand -> HUGEINT: truncates fine
    assert provably_int("sum(floor(v * 1e6 + 0.5)::BIGINT)", env)
    # floor alone returns DOUBLE in DuckDB: never provable uncast
    assert not provably_int("floor(v * 1e6 + 0.5)", env)
    # DATE - DATE is BIGINT days
    sql = "SELECT ts::DATE AS day, (max(day) - min(day)) // 7 FROM t"
    assert not scan_sql(sql)
    # true division poisons
    assert not provably_int("(a::BIGINT / b::BIGINT)", env)
    # CASE branches must all prove
    assert provably_int("CASE WHEN x THEN 1 ELSE count(*) END", env)
    assert not provably_int("CASE WHEN x THEN 1 ELSE y END", env)


# ============== Spark decimal-LITERAL division lint (r12, fifth bite) =
#
# Spark SQL parses bare decimal literals (4.0, 90.0) as DECIMAL; a
# division whose BOTH operands are DECIMAL (decimal literal composed
# with integer columns) performs scale-truncated DECIMAL division —
# r12 staging caught the Bartels variance collapsing to
# Decimal('0.126903'), and the audit then found the REGISTERED
# turning-points key feeding sqrt() a scale-6-truncated variance
# (green by data luck: the 1e-7 offset hadn't crossed a 6th-digit
# boundary on driver data yet).  DuckDB parses the same literals as
# DOUBLE, so the engines silently diverge.

_DEC_LIT = re.compile(r"(?<![\w.])\d+\.\d+(?![\w.])")
# operand is provably DOUBLE when it carries a double cast or calls a
# double-returning function (these promote the whole operand)
_DOUBLE_MARK = re.compile(
    r"(?i)as\s+double|::\s*DOUBLE|sqrt\s*\(|\bln\s*\(|\bexp\s*\(|"
    r"pow\s*\(|\blog\s*\(|percentile\s*\(|quantile_cont\s*\(|"
    r"\bavg\s*\(|\bmean\s*\(|stddev|\bcorr\s*\("
)

# (relpath, left-snippet) -> audit rationale for sites where a
# decimal literal meets a DOUBLE identifier the lint cannot type
WAIVERS_SPARK_DECDIV = {
    ("faconne_spark/queries/round8.py", "(cos + 1.0)"):
        "cos is the double ratio dot/(na*nb); double + decimal-literal"
        " promotes to DOUBLE, so /2.0 is double division",
}


def _spark_decimal_div_hits(text: str):
    from tools.intdiv_lint import _operand_back, _operand_fwd

    out = []
    for m in re.finditer(r"(?<!/)/(?!/)", text):
        # the LEFT operand of / under precedence is the whole
        # multiplicative chain — chain=True captures `2.0 * (n - 2)`
        # where a single primary would miss the decimal factor
        left = _operand_back(text, m.start(), chain=True)
        right = _operand_fwd(text, m.end())
        if not left.strip() or not right.strip():
            continue
        if _DEC_LIT.search(left) and _DEC_LIT.search(right):
            if not _DOUBLE_MARK.search(left) and not _DOUBLE_MARK.search(
                right
            ):
                out.append(" ".join(left.split())[:60])
    return out


def test_no_spark_decimal_literal_division():
    bad = []
    for path in _engine_py_files():
        rel = os.path.relpath(path, REPO)
        for lineno, s in _iter_string_constants(path):
            for hit in _spark_decimal_div_hits(s):
                if (rel, hit) not in WAIVERS_SPARK_DECDIV:
                    bad.append(f"{rel}:{lineno}: {hit!r}")
    assert not bad, (
        "division with decimal LITERALS on both sides (Spark parses"
        " 4.0 as DECIMAL -> scale-truncated decimal division while"
        " DuckDB sees DOUBLE — write `cast(a as double) / b`):\n"
        + "\n".join(bad)
    )


def test_spark_decdiv_lint_catches_the_planted_bartels_trap():
    bad = (
        "(4.0 * (n - 2) * (5.0 * n * n - 2 * n - 9)"
        " / (5.0 * n * (n + 1) * (n - 1) * (n - 1)))"
    )
    assert _spark_decimal_div_hits(bad)
    fixed = (
        "(cast(4 * (n - 2) * (5 * n * n - 2 * n - 9) as double)"
        " / cast(5 * n * (n + 1) * (n - 1) * (n - 1) as double))"
    )
    assert not _spark_decimal_div_hits(fixed)
    # the turning-points shape (second real site) and its fix
    assert _spark_decimal_div_hits("(2.0 * (n - 2) / 3.0)")
    assert not _spark_decimal_div_hits("(cast(2 * (n - 2) as double) / 3)")
    # double-marked operands stay clean
    assert not _spark_decimal_div_hits("percentile(lag_s, 0.5) / 3600.0")
    assert not _spark_decimal_div_hits("sqrt(2.0 * x) / 3.0")
