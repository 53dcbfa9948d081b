"""String/categorization column builders.

All pure ``Column`` expressions (JVM-side, whole-stage-codegen friendly) —
no Python UDFs in any of these hot paths.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def keyword_categorize(
    col: Column,
    keywords: list[tuple[str, str]],
    default: str,
) -> Column:
    """First-match-wins ordered keyword categorizer.

    Re-expression of the reference's dict-driven categorizer
    (reference utils/stripe_and_square_helpers.py:50-92: iterate dict, break on
    first ``keyword in description.lower()``).  Compiled to one chained
    ``when`` expression so Catalyst constant-folds and codegens it; ordering
    is preserved explicitly (SURVEY.md §4.3 ordering hazard).
    """
    lowered = F.lower(col)
    expr = None
    for kw, value in keywords:
        cond = lowered.contains(kw.lower())
        expr = F.when(cond, value) if expr is None else expr.when(cond, value)
    return F.lit(default) if expr is None else expr.otherwise(default)


def keyword_categorize_sql(col_sql: str, keywords: list[tuple[str, str]], default: str) -> str:
    """DuckDB CASE mirror of :func:`keyword_categorize` (same ordering)."""
    branches = "\n    ".join(
        f"WHEN contains(lower({col_sql}), '{kw.lower()}') THEN '{value}'"
        for kw, value in keywords
    )
    return f"CASE {branches} ELSE '{default}' END"


def map_lookup(col: Column, mapping: dict[str, str], default: str | None = None) -> Column:
    """Small exact-key lookup as a chained ``when`` (broadcast-map analog of the
    reference's ``dict(zip(...))`` + ``.map`` pattern, SURVEY.md §2.3 J3, for
    literal config maps — real table lookups use broadcast joins instead)."""
    expr = None
    for k, v in mapping.items():
        cond = col == F.lit(k)
        expr = F.when(cond, v) if expr is None else expr.when(cond, v)
    if expr is None:
        return F.lit(default)
    return expr.otherwise(F.lit(default)) if default is not None else expr


def map_lookup_sql(col_sql: str, mapping: dict[str, str], default: str | None = None) -> str:
    branches = "\n    ".join(f"WHEN '{k}' THEN '{v}'" for k, v in mapping.items())
    tail = f" ELSE '{default}'" if default is not None else ""
    return f"CASE {col_sql} {branches}{tail} END"


def normalize_email(col: Column) -> Column:
    """lowercase + trim (reference customer_matching.py:19-38)."""
    return F.lower(F.trim(col))


def email_domain(col: Column) -> Column:
    return F.substring_index(normalize_email(col), "@", -1)


def correct_tld(domain: Column, typo_map: dict[str, str]) -> Column:
    """TLD-typo correction (reference customer_matching.py:131-187): replace a
    known-bad trailing TLD with its correction, first match wins."""
    expr = None
    for bad, good in typo_map.items():
        pat = "\\" + bad + "$"  # bad TLDs all start with '.'
        cond = domain.endswith(bad)
        fixed = F.regexp_replace(domain, pat, good)
        expr = F.when(cond, fixed) if expr is None else expr.when(cond, fixed)
    return domain if expr is None else expr.otherwise(domain)


def correct_tld_sql(domain_sql: str, typo_map: dict[str, str]) -> str:
    """DuckDB CASE mirror of :func:`correct_tld`."""
    branches = "\n    ".join(
        f"WHEN ends_with({domain_sql}, '{bad}') "
        f"THEN regexp_replace({domain_sql}, '\\{bad}$', '{good}')"
        for bad, good in typo_map.items()
    )
    return f"CASE {branches} ELSE {domain_sql} END"


def normalize_phone(col: Column) -> Column:
    """E.164-ish coercion for US numbers (reference customer_matching.py:41-75):
    strip non-digits; 10 digits -> +1XXXXXXXXXX; 11 starting with 1 -> +…;
    else null."""
    digits = F.regexp_replace(col, r"[^0-9]", "")
    return (
        F.when(F.length(digits) == 10, F.concat(F.lit("+1"), digits))
        .when((F.length(digits) == 11) & digits.startswith("1"), F.concat(F.lit("+"), digits))
        .otherwise(F.lit(None).cast("string"))
    )


NORMALIZE_PHONE_SQL = """
CASE
  WHEN length(regexp_replace({c}, '[^0-9]', '', 'g')) = 10
    THEN '+1' || regexp_replace({c}, '[^0-9]', '', 'g')
  WHEN length(regexp_replace({c}, '[^0-9]', '', 'g')) = 11
       AND starts_with(regexp_replace({c}, '[^0-9]', '', 'g'), '1')
    THEN '+' || regexp_replace({c}, '[^0-9]', '', 'g')
  ELSE NULL
END
"""


def levenshtein_similarity(a: Column, b: Column) -> Column:
    """1 - dist/max_len similarity (reference customer_matching.py:104-120),
    fixed-point rounded via floor(x*1e4+0.5) for cross-engine determinism."""
    raw = 1.0 - F.levenshtein(a, b) / F.greatest(F.length(a), F.length(b))
    return F.floor(raw * 10000.0 + 0.5) / 10000.0


def fold_norm(col: Column) -> Column:
    """Engine-stable dedup normalization: lower + trim, then pinned to the
    SIMPLE Unicode case fold on the two points where engine lowercasing
    diverges (found by random-unicode fuzzing):

    - Greek capital sigma: Spark applies Unicode SpecialCasing's
      context-sensitive Final_Sigma rule (word-final lower(Σ) = ς) while
      DuckDB maps unconditionally to σ — fold ς → σ, which is also what
      Python's str.casefold() produces.
    - Latin capital I-with-dot (İ): Java expands to i + U+0307 combining
      dot; DuckDB drops the dot mid-word but keeps it standalone — strip
      U+0307 after lowering so both engines land on plain 'i'.

    ASCII text is untouched.  Use this (with :data:`FOLD_NORM_SQL`) for any
    hash whose two engine computations must agree byte-for-byte on
    arbitrary Unicode — fingerprints, exact-dedup keys, join keys."""
    # translate with a shorter replacement DELETES the unmatched chars:
    # 'ς' -> 'σ', '̇' -> removed
    return F.translate(F.lower(F.trim(col)), "ς̇", "σ")


FOLD_NORM_SQL = (
    "replace(replace(lower(trim({c}, ' ')), chr(962), chr(963)), chr(775), '')"
)
