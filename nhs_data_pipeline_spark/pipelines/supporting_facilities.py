"""Supporting-facilities build: raw-release cleaning and org-change
adjustment — exact reference semantics.

``clean_supporting_facilities`` is the cleaning block of
scripts/build_datasets_main.py:305-386 (era-variant column merge,
renames, junk-row filters) over the release as ``read_messy_csv`` reads
it, the one reader of the build. ``adjust_supporting_facilities``
replicates scripts/supporting-facilities/
clean_org_changes_supporting_facilities.R:38-152 step for step, so the
output can be replayed against the reference's committed golden CSV
(data/supporting-facilities/supporting-facilities_clean_org_change_adj.csv,
11,546 rows). Where the reference relies on implicit CSV row order
(unique() + slice_tail name pick, fill(.direction="up")), the engine
uses the ingest ``_row_idx`` to make the same order explicit.

Quirks preserved deliberately (golden parity over tidiness):
- ``change_quarter`` is the max numeric quarter over the WHOLE
  (old_code, final_code) group, not just the change year (R's scalar
  ``max()`` inside mutate, :104).
- The change indicator marks the first period of the *new* arrangement
  for mergers (last period + 3 months via ``yq()+months(3)``), but the
  *last old* period for splits (:114-124).
- ``exp_problematic_org_change`` flags membership in the union of
  problematic old AND final codes (:72-79).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nhs_data_pipeline_spark.functions import to_numeric
from nhs_data_pipeline_spark.ops.core import (
    fill_directional,
    local_frame,
    natural_join,
    rename_columns,
    union_by_name,
)

# Era-variant columns (read_messy_csv names) merged left to right, in
# the reference's output order (build_datasets_main.py:325-335).
_ERA_COLUMNS = {
    "SHA": ["sha", "sha_code"],
    "organisation_code": ["orgid", "organisation_code"],
    "organisation_name": ["name", "organisation_name"],
    "area_team_code": ["area_team_code"],
    "area_team_name": ["area_team_name"],
    "region_code": ["region_code"],
    "region_name": ["region_name"],
}
_MEASURES = {
    "number_of_operating_theatres": "nr_operating_theatres",
    "of_which_number_of_dedicated_day_case_theatres": "nr_day_case_theatres",
}


def clean_supporting_facilities(raw: DataFrame) -> DataFrame:
    """Raw appended release -> clean panel (build_datasets_main.py:305-386).

    ``raw`` is ``read_messy_csv(spark, path, header=0, na_tokens=["NA", ""])``.
    One projection: the other columns in file order (measures renamed,
    the literal ``NA`` column and the ingest bookkeeping dropped), then
    each present era-variant group coalesced left to right. One filter
    drops the junk rows (:353-360): no org code, no day-case count, a
    repeated header row, and the England totals.
    """
    dropped = {"_row_idx", "_source_file", "na"}.union(*_ERA_COLUMNS.values())
    kept = [F.col(c).alias(_MEASURES.get(c, c)) for c in raw.columns if c not in dropped]
    merged = [
        F.coalesce(*present).alias(new)
        for new, olds in _ERA_COLUMNS.items()
        if (present := [c for c in olds if c in raw.columns])
    ]
    day_case = F.col("nr_day_case_theatres")
    return raw.select(*kept, *merged).filter(
        F.col("organisation_code").isNotNull()
        & day_case.isNotNull()
        & (day_case != "Of which, number of dedicated day case theatres")
        & ~F.col("organisation_name").isin(
            "England (Including Independent Sector)",
            "England (Excluding Independent Sector)",
        )
    )


def adjust_supporting_facilities(clean_df: DataFrame, lookup: DataFrame) -> DataFrame:
    """clean panel (+``_row_idx``) x trust lookup -> adjusted panel.

    ``clean_df`` is the supporting-facilities_clean table as ingested by
    ``read_messy_csv`` (string columns, ``_row_idx`` file order);
    ``lookup`` is trust_lookup_uncomplicated_changes
    ``(old_code, final_code, experiences_split, problematic)``, its two
    0/1 flags as integers or as text.
    """
    # :42-49 — drop region columns, uppercase names, harmonize names.
    sf = clean_df.drop(
        "SHA", "sha", "area_team_name", "area_team_code", "region_code", "region_name"
    )
    sf = rename_columns(
        sf,
        {
            "year_var": "year",
            "quarter_var": "quarter",
            "organisation_code": "org_code",
            "organisation_name": "org_name",
        },
    )
    sf = sf.withColumn("org_name", F.upper("org_name"))

    # :56-60 — name lookup: unique (org, name) pairs in file order, last
    # per org. "Last in first-appearance order" == the name whose first
    # appearance is latest.
    first_seen = sf.groupBy("org_code", "org_name").agg(F.min("_row_idx").alias("__first"))
    w_name = Window.partitionBy("org_code").orderBy(F.col("__first").desc())
    name_code_lookup = (
        first_seen.withColumn("__rn", F.row_number().over(w_name))
        .filter(F.col("__rn") == 1)
        .select("org_code", "org_name")
    )

    # :62-69 — drop names; numeric coercion ("Data not returned" -> NULL).
    sf = sf.drop("org_name")
    sf = (
        sf.withColumn("year", to_numeric("year").cast("int"))
        .withColumn("nr_operating_theatres", to_numeric("nr_operating_theatres"))
        .withColumn("nr_day_case_theatres", to_numeric("nr_day_case_theatres"))
    )

    # :72-91 — lookup membership, decided on the driver: problematic =
    # union of problematic old+final codes; the panel splits by
    # membership in the clean lookup. A NULL org code is in neither.
    # a flag that is not an integer fails the cast
    problematic = F.col("problematic").cast("int")
    flagged = lookup.select(
        F.col("old_code").alias("org_code"), "final_code",
        F.col("experiences_split").cast("int").alias("experiences_split"),
        problematic == 1, problematic == 0,
    )
    rows = flagged.collect()
    prob_codes = {c for r in rows if r[3] for c in r[:2] if c is not None}
    affected_codes = {c for r in rows if r[4] for c in r[:2] if c is not None}
    sf = sf.withColumn(
        "exp_problematic_org_change",
        F.when(F.col("org_code").isin(sorted(prob_codes)), 1).otherwise(0),
    )
    is_affected = F.coalesce(F.col("org_code").isin(sorted(affected_codes)), F.lit(False))
    affected = sf.filter(is_affected)
    unaffected = sf.filter(~is_affected)

    # :94-95 — natural left join of the clean lookup (keys: org_code).
    lkp = local_frame(lookup.sparkSession, [r[:3] for r in rows if r[4]], flagged.schema[:3])
    affected = natural_join(affected, lkp, how="left", broadcast_right=True)

    # :99-124 — change indicator.
    chg = affected.filter(F.col("final_code").isNotNull())
    wg = Window.partitionBy("org_code", "final_code")
    qnum = F.regexp_extract("quarter", r"(\d+)", 1).try_cast("int")
    chg = (
        chg.withColumn("__qnum", qnum)
        .withColumn("change_year", F.max("year").over(wg))
        .withColumn("__grp_max_q", F.max("__qnum").over(wg))  # whole-group max (:104 quirk)
        .withColumn(
            "change_quarter",
            F.when(
                (F.col("year") == F.col("change_year")) & F.col("__qnum").isNotNull(),
                F.col("__grp_max_q"),
            ),
        )
    )
    chg = fill_directional(
        chg, ["change_quarter"], ["org_code", "final_code"], ["_row_idx"], "up"
    )
    ci = (
        chg.select(
            F.col("final_code").alias("org_code"),
            F.col("change_year").alias("year"),
            F.col("change_quarter").alias("q"),
            "experiences_split",
        )
        .distinct()
    )
    # first period of the new arrangement (:114-124)
    ci = ci.withColumn(
        "year",
        F.when(F.col("q").isNull() & (F.col("experiences_split") == 0), F.col("year") + 1)
        .otherwise(F.col("year")),
    )
    rolled = F.add_months(
        F.make_date(F.col("year"), (F.col("q") - 1) * 3 + 1, F.lit(1)), 3
    )
    ci = (
        ci.withColumn(
            "__date",
            F.when(F.col("q").isNotNull() & (F.col("experiences_split") == 0), rolled),
        )
        .withColumn(
            "q",
            F.when(F.col("__date").isNotNull(), F.quarter("__date")).otherwise(F.col("q")),
        )
        .withColumn(
            "year",
            F.when(F.col("__date").isNotNull(), F.year("__date")).otherwise(F.col("year")),
        )
        .withColumn(
            "quarter",
            # Reference quirk (:112 + :123): the quarter label gets the
            # "Q" prefix applied twice for split rows (already "Q4" at
            # :112, prefixed again at :123 -> "QQ4"), so split change
            # periods can never match a panel row and split trusts are
            # never flagged. Golden parity requires reproducing it.
            F.when(
                F.col("__date").isNotNull(),
                F.concat(F.lit("Q"), F.col("q").cast("string")),
            ).when(
                F.col("q").isNotNull(),
                F.concat(F.lit("QQ"), F.col("q").cast("string")),
            ),
        )
        .select("org_code", "year", "quarter", "experiences_split")
    )

    # :127-133 — recode to final, NA-preserving re-aggregation.
    affected = affected.withColumn(
        "org_code", F.coalesce("final_code", "org_code")
    )
    affected_agg = affected.groupBy(
        "year", "quarter", "org_code", "exp_problematic_org_change"
    ).agg(
        F.sum("nr_operating_theatres").alias("nr_operating_theatres"),
        F.sum("nr_day_case_theatres").alias("nr_day_case_theatres"),
    )

    # :136-149 — union back, re-attach names, change flags.
    panel = union_by_name(
        [
            unaffected.select(
                "year", "quarter", "org_code", "exp_problematic_org_change",
                "nr_operating_theatres", "nr_day_case_theatres",
            ),
            affected_agg,
        ]
    )
    panel = natural_join(panel, name_code_lookup, how="left", broadcast_right=True)
    panel = natural_join(panel, ci, how="left", broadcast_right=True)
    panel = panel.withColumn(
        "unproblematic_org_change",
        F.when(F.col("experiences_split").isNotNull(), 1).otherwise(0),
    ).drop("experiences_split")
    panel = panel.withColumn(
        "exp_unproblematic_org_change",
        F.max("unproblematic_org_change").over(Window.partitionBy("org_code")),
    )
    return panel.select(
        "year", "quarter", "org_code", "nr_operating_theatres",
        "nr_day_case_theatres", "exp_problematic_org_change", "org_name",
        "unproblematic_org_change", "exp_unproblematic_org_change",
    )
