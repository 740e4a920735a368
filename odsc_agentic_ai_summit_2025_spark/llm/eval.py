"""Field-level extraction-accuracy eval (SURVEY §5, §2.4 A9;
reference src/baml_extract_eval.py:338-387, FIELD_MAP :557-639,
comparators :121-135,443-453,508-553, report :643-668).

The reference walks 2,726 record pairs in a Python loop with
per-field comparator functions. Spark-first, the whole eval is one
join + 15 boolean columns + an unpivot/aggregate — fully distributed,
no driver loop, and every comparator is a built-in expression (the
state-name normalization is a literal map, not a UDF).

Output: one row per field — matches, total, accuracy, and a bounded
sample of failed record_ids (the reference's first-10 truncation,
baml_extract_eval.py:656).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .eval_states import US_STATES

def _state_map() -> Column:
    # built lazily: F.lit needs an active session, so a module-level
    # literal map would break import-before-session
    return F.create_map(*[F.lit(x) for kv in US_STATES.items() for x in kv])


def _norm_state(c: Column) -> Column:
    """abbr→full, then lowercase (baml_extract_eval.py:443-453)."""
    return F.lower(F.coalesce(_state_map()[F.upper(F.trim(c))], c))


def _null_eq(a: Column, b: Column) -> Column:
    """Comparator base: equal-or-both-null (the reference counts a
    null-vs-null field as a match)."""
    return a.eqNullSafe(b)


def _strict_lower(a: Column, b: Column) -> Column:
    return _null_eq(F.lower(F.trim(a)), F.lower(F.trim(b)))


def _strip_spaces(a: Column, b: Column) -> Column:
    """maritalStatus: space-stripped strict (eval.py:158-167 — gold
    'Never Married' vs extracted 'NeverMarried' both match)."""
    strip = lambda c: F.lower(F.regexp_replace(F.trim(c), r"\s+", ""))
    return _null_eq(strip(a), strip(b))


def _list_lower(a: Column, b: Column) -> Column:
    """given names: strict ordered list match, lowercased elementwise."""
    low = lambda c: F.transform(c, lambda x: F.lower(F.trim(x)))
    return _null_eq(low(a), low(b))


def _substring_bidir(a: Column, b: Column) -> Column:
    """substring containment either way (eval.py:131-135)."""
    al, bl = F.lower(F.trim(a)), F.lower(F.trim(b))
    return _null_eq(al, bl) | (
        a.isNotNull() & b.isNotNull() & (al.contains(bl) | bl.contains(al))
    )


def _count_eq(a: Column, b: Column) -> Column:
    """array-count equality; null array ≡ count 0? No — the reference
    compares recorded counts, null vs null matches, null vs [] does
    not (len(None) raises there; it treats missing as 0 on gold side
    only). We use size with null→0 on both sides: count semantics."""
    sz = lambda c: F.coalesce(F.size(c), F.lit(0))
    return sz(a) == sz(b)


# FIELD_MAP: name → (extracted expr, gold expr, comparator)
# (mirrors baml_extract_eval.py:557-639; e = extracted, g = gold)
def field_map() -> dict[str, tuple[Column, Column, object]]:
    e = lambda p: F.col(f"e.{p}")
    g = lambda p: F.col(f"g.{p}")
    return {
        "family": (e("name.family"), g("name.family"), _strict_lower),
        "given": (e("name.given"), g("name.given"), _list_lower),
        "prefix": (e("name.prefix"), g("name.prefix"), _strict_lower),
        "line": (e("address.line"), g("address.line"), _strict_lower),
        "city": (e("address.city"), g("address.city"), _strict_lower),
        "state": (
            _norm_state(e("address.state")),
            _norm_state(g("address.state")),
            _null_eq,
        ),
        "postalCode": (
            e("address.postalCode"), g("address.postalCode"), _strict_lower
        ),
        "country": (e("address.country"), g("address.country"), _strict_lower),
        "gender": (e("gender"), g("gender"), _strict_lower),
        "birthDate": (e("birthDate"), g("birthDate"), _null_eq),
        "maritalStatus": (e("maritalStatus"), g("maritalStatus"), _strip_spaces),
        "practitioner": (
            e("practitioner.name.family"),
            g("practitioner.name.family"),
            _substring_bidir,
        ),
        "allergyRecordedCount": (
            e("allergy.substance"), g("allergy.substance"), _count_eq
        ),
        "immunizationCount": (e("immunization"), g("immunization"), _count_eq),
        "immunizationDate": (
            # try_: an empty list has no first date (null), where
            # ANSI element_at would fail the whole report
            F.try_element_at(e("immunization"), F.lit(1))[
                "occurrenceDateTime"
            ],
            F.try_element_at(g("immunization"), F.lit(1))[
                "occurrenceDateTime"
            ],
            # first-date membership (eval.py:547-553): extracted first
            # date must appear in gold's date (date-prefix match covers
            # gold timestamps vs extracted dates)
            _substring_bidir,
        ),
    }


def field_accuracy(extracted: DataFrame, gold: DataFrame) -> DataFrame:
    """extracted ⨝ gold on record_id (J4 — key join, not zip) →
    per-field accuracy report.

    Returns [field, matches, total, accuracy, failed_ids(≤10)].
    """
    fm = field_map()
    j = extracted.alias("e").join(gold.alias("g"), "record_id", "inner")
    cols = [F.col("record_id")]
    for name, (ec, gc, cmpf) in fm.items():
        cols.append(cmpf(ec, gc).alias(name))
    wide = j.select(*cols)

    # unpivot field-match booleans → (record_id, field, ok)
    pairs = F.array(
        *[
            F.struct(F.lit(name).alias("field"), F.col(name).alias("ok"))
            for name in fm
        ]
    )
    long = wide.select("record_id", F.explode(pairs).alias("p")).select(
        "record_id", "p.field", "p.ok"
    )
    return (
        long.groupBy("field")
        .agg(
            F.sum(F.col("ok").cast("long")).alias("matches"),
            F.count("*").alias("total"),
            F.round(
                F.sum(F.col("ok").cast("long")) / F.count("*"), 4
            ).alias("accuracy"),
            F.slice(
                F.sort_array(
                    F.collect_list(
                        F.when(~F.col("ok"), F.col("record_id"))
                    )
                ),
                1,
                10,
            ).alias("failed_ids"),
        )
        .orderBy("field")
    )


def overall_accuracy(report: DataFrame) -> float:
    """The reference's headline number (README: 93.9%)."""
    row = report.agg(
        (F.sum("matches") / F.sum("total")).alias("acc")
    ).collect()[0]
    return float(row["acc"])
