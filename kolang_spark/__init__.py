"""kolang_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the operator semantics of the reference
library MahdiHGZ/kolang (a PySpark utility package) as idiomatic,
100-TB-scale-minded PySpark on a classic PySpark 4.x session, plus the
LLM-data-pipeline extensions (dedup, similarity search, multimodal
columns, text analysis).

Design rules (SURVEY.md §1.4 / §4):

* plain functions returning vanilla :class:`pyspark.sql.Column` — never
  subclass or ``__class__``-reassign ``Column`` (the reference's
  ``KolangColumn`` mechanism is broken on PySpark 4.x);
* no row-at-a-time Python UDFs in the core — every core operator is pure
  Catalyst expression algebra so pushdown/pruning/codegen see through it;
* every operator accepts ``str | Column``;
* deterministic column ordering and deterministic session ids;
* driver materialization always guarded.
"""

from kolang_spark.functions import (  # noqa: F401
    array_contains_column,
    bin,
    col,
    cond_count,
    condition_count,
    count_distinct_with_nulls,
    cube_percent,
    cumulative_percent,
    cumulative_sum,
    gregorian_date,
    is_null_or_in,
    jalali_date,
    json_get,
    json_map,
    median,
    moving_average,
    moving_avg,
    number_normalizer,
    parse_jalali,
    percent,
    quantiles,
    persian_number,
    str_array_to_array,
    str_to_column,
    sum_columns,
    text_cleaner,
    weighted_average,
    weighted_avg,
)
from kolang_spark.operators import (  # noqa: F401
    add_trend_line,
    as_of_join,
    bloom_might_contain,
    bloom_table,
    cms_estimate,
    cms_table,
    deterministic_sample,
    equi_depth_bin,
    hypertable_rollup,
    mad_outliers,
    profile_table,
    resample_fill,
    safe_union,
    session_id,
    sketch_rollup,
    standardize,
    stratified_fixed_sample,
    stratified_sample,
    top_k_per_group,
    transpose,
    weighted_sample,
    union_all,
    unpivot,
    winsorize,
    with_zorder_key,
    zorder_by,
)
from kolang_spark.sources import (  # noqa: F401
    load_or_calculate_parquet,
    overwrite_partitions,
    pandas_to_spark,
    read_blobs,
    read_table,
    upsert_partitioned,
    write_table,
)

__version__ = "0.1.0"
