"""Reference-fidelity pipeline: job-1 and job-2 equivalents (SURVEY.md §3).

Runs the reference's exact two-job semantics over its own source schemas
(REF_CUSTOMERS / REF_PRODUCTS / REF_ORDERS — fixtures.py):

* **job 1** (inferred surface, SURVEY §0 Caveat A; README.md:30-43):
  filter active customers / recent orders / in-stock products → 3-way star
  join → derived row columns (extended_price, discount_amount, final_price,
  is_weekend, Java-cased day/month names — §1.3) → detail + NULL-keyed
  summary union → the 16-column ``sales_data_external`` table.
* **job 2** (generate-asset.scala:28-380): three analytics branches off the
  cached wide table, window ranking, moving averages, 365-row date
  dimension join, asset decoration, 23-column typed-null union, asset
  table + lineage registry writes.

The reference's quantity-discount is not specified anywhere in the
snapshot; we pin an explicit, documented rule: 5% off lines with
quantity ≥ 5, else 0 (a parameter of job1, not hidden).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from demo_etl_spark.context import DEFAULT_CONTEXT, RunContext
from demo_etl_spark.functions import (
    day_name_upper,
    is_weekend,
    money_round,
    month_name_upper,
    safe_ratio,
    tagged_id,
)
from demo_etl_spark.io import (
    append_hive_table,
    create_external_table,
    create_table_if_not_exists,
    drop_table,
    register_persist,
    verify_table_sql,
)
from demo_etl_spark.lineage import LineageTracker
from demo_etl_spark.operators.union_util import union_all_by_name
from demo_etl_spark.schemas import (
    DATA_LINEAGE_REGISTRY,
    SALES_ANALYTICS_ASSET,
    SALES_DATA_EXTERNAL,
)

QTY_DISCOUNT_THRESHOLD = 5
QTY_DISCOUNT_RATE = 0.05


# ----------------------------------------------------------------- job 1 --
def job1_sales_data(
    customers: DataFrame,
    products: DataFrame,
    orders: DataFrame,
    ctx: RunContext = DEFAULT_CONTEXT,
    tracker: LineageTracker | None = None,
) -> DataFrame:
    t = tracker or LineageTracker(ctx)
    # P2-P4 filters (README.md:36-38)
    active = customers.filter(F.col("status") == "active")
    recent = orders.filter(
        F.col("order_date")
        >= F.date_sub(F.lit(ctx.anchor_date), ctx.recent_days).cast("timestamp")
    )
    in_stock = products.filter(F.col("in_stock"))
    t.log("Filter active customers / recent orders / in-stock products",
          ["customers", "orders", "products"], "filtered_inputs")

    # J2 star join (README.md:39); customers.name / products.name collide,
    # so dimensions are projected with role names before joining
    c = active.select("customer_id", F.col("name").alias("customer_name"))
    p = in_stock.select(
        "product_id", F.col("name").alias("product_name"), "category", "price"
    )
    joined = recent.join(c, "customer_id").join(p, "product_id")
    t.log("Join orders with customers and products", ["filtered_inputs"], "joined")

    # derived columns (README.md:40; consumed schema SURVEY §1.3)
    extended = F.col("price") * F.col("quantity")
    discount = F.when(
        F.col("quantity") >= QTY_DISCOUNT_THRESHOLD,
        money_round(extended * QTY_DISCOUNT_RATE),
    ).otherwise(F.lit(0.0))
    detail = joined.select(
        "customer_id",
        "customer_name",
        "order_id",
        "product_id",
        "product_name",
        "category",
        "quantity",
        "price",
        money_round(extended).alias("extended_price"),
        discount.alias("discount_amount"),
        money_round(extended - discount).alias("final_price"),
        "order_date",
        is_weekend(F.col("order_date")).alias("is_weekend"),
        day_name_upper(F.col("order_date")).alias("day_of_week"),
        month_name_upper(F.col("order_date")).alias("month"),
        F.year("order_date").alias("year"),
    )
    t.log("Add derived columns", ["joined"], "detail")

    # A7/U2 summary rows (README.md:41-42): NULL-keyed per-category rollup
    summary = (
        detail.groupBy("category")
        .agg(
            F.sum("quantity").cast("int").alias("quantity"),
            money_round(F.sum("final_price")).alias("final_price"),
        )
    )
    out = union_all_by_name([detail, summary], SALES_DATA_EXTERNAL)
    t.log("Combine detailed and summary data", ["detail"], "sales_data_external")
    return out


# ----------------------------------------------------------------- job 2 --
def job2_asset(
    spark: SparkSession,
    sales_data: DataFrame,
    ctx: RunContext = DEFAULT_CONTEXT,
    tracker: LineageTracker | None = None,
) -> DataFrame:
    t = tracker or LineageTracker(ctx)
    # C1: the one fanned-out relation is persisted (generate-asset.scala:47);
    # tracked, so clear_operator_memos() releases it
    sales = register_persist(sales_data)

    # Branch 1 — customer analytics (generate-asset.scala:57-88)
    cust = (
        sales.filter(F.col("customer_id").isNotNull())
        .groupBy("customer_id", "customer_name")
        .agg(
            F.count("order_id").alias("total_orders"),
            F.countDistinct("product_id").alias("unique_products_purchased"),
            F.sum("final_price").alias("total_spent"),
            F.max("order_date").alias("last_purchase_date"),
            F.min("order_date").alias("first_purchase_date"),
            # try_divide throughout this plan: the reference ran non-ANSI
            # Spark where x/0 yields NULL; under our ANSI session a raw /
            # would instead abort the whole job on one zero divisor
            F.avg(F.try_divide(F.col("final_price"), F.col("quantity"))).alias(
                "avg_unit_price"
            ),
            F.sum(F.when(F.col("is_weekend"), F.col("final_price")).otherwise(0.0))
            .alias("weekend_spending"),
            F.sum(F.when(~F.col("is_weekend"), F.col("final_price")).otherwise(0.0))
            .alias("weekday_spending"),
        )
    )
    days_since = F.datediff(
        F.lit(ctx.anchor_date), F.to_date("last_purchase_date")
    )
    # generate-asset.scala:73-78: days_as_customer anchors on "today"
    # (anchor_date stands in for current_date, SURVEY §0 Caveat C) and is
    # the purchase-frequency numerator.
    days_as_customer = F.datediff(
        F.lit(ctx.anchor_date), F.to_date("first_purchase_date")
    )
    cust = cust.withColumns(
        {
            "days_as_customer": days_as_customer,
            "days_since_last_purchase": days_since,
            "purchase_frequency_days": F.when(
                F.col("total_orders") > 1,
                days_as_customer / (F.col("total_orders") - 1),
            ),
            # generate-asset.scala:79-83
            "customer_value_score": (F.col("total_spent") / 100)
            * (1 + F.when(days_since < 30, 0.5).otherwise(-0.2))
            * F.when(F.col("total_orders") > 10, 1.2).otherwise(1.0),
            "weekend_shopper_ratio": safe_ratio(
                F.col("weekend_spending"),
                F.col("weekend_spending") + F.col("weekday_spending"),
            ),
        }
    )
    t.log("Customer analytics aggregation", ["sales_data_external"], "customer_analytics")

    # Branch 2 — product analytics + W1 ranking (generate-asset.scala:98-120)
    prod = (
        sales.filter(F.col("product_id").isNotNull())
        .groupBy("product_id", "product_name", "category")
        .agg(
            F.count("order_id").alias("order_count"),
            F.sum("quantity").alias("total_quantity_sold"),
            F.sum("final_price").alias("total_revenue"),
            F.avg("price").alias("avg_price"),
            F.avg(
                F.try_divide(F.col("discount_amount"), F.col("extended_price"))
            ).alias("avg_discount_rate"),
            F.countDistinct("customer_id").alias("unique_customers"),
        )
        .withColumn(
            "revenue_per_unit",
            F.try_divide(F.col("total_revenue"), F.col("total_quantity_sold")),
        )
    )
    w = Window.partitionBy("category").orderBy(F.desc("total_revenue"))
    prod = prod.withColumns(
        {
            "revenue_rank_in_category": F.rank().over(w),
            "percent_rank_in_category": F.percent_rank().over(w),
        }
    ).withColumn("is_top_seller", F.col("revenue_rank_in_category") <= 3)
    t.log("Product analytics + category ranking", ["sales_data_external"], "product_analytics")

    # Branch 3 — time analytics + W2-W4 (generate-asset.scala:130-161)
    time_agg = (
        sales.filter(F.col("order_date").isNotNull())
        .withColumn("date", F.to_date("order_date"))
        .groupBy("date", "day_of_week", "month", "year")
        .agg(
            F.count("order_id").alias("order_count"),
            F.countDistinct("customer_id").alias("unique_customers"),
            F.sum("final_price").alias("total_revenue"),
            F.avg("final_price").alias("avg_order_value"),
            F.sum("quantity").alias("total_quantity"),
            F.countDistinct("product_id").alias("unique_products"),
        )
        .withColumns(
            {
                "revenue_per_customer": safe_ratio(
                    F.col("total_revenue"), F.col("unique_customers"), scale=None
                ),
                "items_per_order": safe_ratio(
                    F.col("total_quantity"), F.col("order_count"), scale=None
                ),
            }
        )
    )
    w7 = Window.orderBy(F.unix_date(F.col("date"))).rangeBetween(-6, 0)
    w30 = Window.orderBy(F.unix_date(F.col("date"))).rangeBetween(-29, 0)
    time_agg = time_agg.withColumns(
        {
            "revenue_7day_avg": F.avg("total_revenue").over(w7),
            "revenue_30day_avg": F.avg("total_revenue").over(w30),
            "order_count_7day_avg": F.avg("order_count").over(w7),
            "order_count_30day_avg": F.avg("order_count").over(w30),
        }
    ).withColumn(
        "is_revenue_trending_up",
        F.col("revenue_7day_avg") > F.col("revenue_30day_avg") * 1.1,
    )
    t.log("Time analytics + moving averages", ["sales_data_external"], "time_analytics")

    # Date dimension join (generate-asset.scala:176-188): 365 rows back
    # from anchor, 4-key join incl. Java-cased names.
    n_days = 365
    d = F.date_sub(F.lit(ctx.anchor_date), F.col("id").cast("int") + 1)
    date_df = spark.range(n_days).select(
        d.alias("date"),
        day_name_upper(d).alias("day_of_week"),
        F.month(d).alias("month_num"),
        month_name_upper(d).alias("month_name"),
        F.year(d).alias("year"),
    )
    time_joined = (
        time_agg.withColumnRenamed("month", "month_name")
        .join(F.broadcast(date_df), ["date", "day_of_week", "month_name", "year"])
    )
    t.log("Date dimension enrichment join", ["time_analytics"], "time_enriched")

    # Asset decoration (generate-asset.scala:191-212) + 23-col union.
    # The two lineage columns are constants for EVERY row: the external
    # table location and the job id (generate-asset.scala:277-278).
    meta = {
        "asset_created_date": F.lit(ctx.anchor_date),
        "asset_job_id": F.lit(ctx.job_id),
        "asset_lineage_source": F.lit("sales_data_external"),
        "asset_lineage_job": F.lit(ctx.job_id),
    }
    cust_b = cust.withColumns(
        {
            "asset_type": F.lit("customer"),
            "asset_id": tagged_id("CUST_", F.col("customer_id")),
            "asset_name": F.col("customer_name"),
            "total_spent": money_round(F.col("total_spent")),
            "customer_value_score": money_round(F.col("customer_value_score")),
            "first_purchase_date": F.to_date("first_purchase_date"),
            "last_purchase_date": F.to_date("last_purchase_date"),
            **meta,
        }
    )
    prod_b = prod.withColumns(
        {
            "asset_type": F.lit("product"),
            "asset_id": tagged_id("PROD_", F.col("product_id")),
            "asset_name": F.col("product_name"),
            "total_revenue": money_round(F.col("total_revenue")),
            **meta,
        }
    )
    # Time asset fidelity (generate-asset.scala:208-210,261): asset_name is
    # the bare yyyy-MM-dd date; order_count feeds the total_orders slot.
    time_b = time_joined.withColumns(
        {
            "asset_type": F.lit("time"),
            "asset_id": F.concat(F.lit("DATE_"), F.date_format("date", "yyyyMMdd")),
            "asset_name": F.date_format("date", "yyyy-MM-dd"),
            "total_orders": F.col("order_count"),
            "total_revenue": money_round(F.col("total_revenue")),
            **meta,
        }
    )
    unified = union_all_by_name([cust_b, prod_b, time_b], SALES_ANALYTICS_ASSET)
    t.log("Unified asset union (typed-null 23-col alignment)",
          ["customer_analytics", "product_analytics", "time_enriched"],
          "sales_analytics_asset")
    return unified


def run_reference_pipeline(
    spark: SparkSession,
    work_dir: str,
    ctx: RunContext = DEFAULT_CONTEXT,
    fixtures: dict[str, DataFrame] | None = None,
) -> dict:
    """End-to-end: fixtures → job1 → materialize → job2 → asset + registry."""
    from demo_etl_spark.fixtures import FixtureConfig, generate_fixtures

    tracker = LineageTracker(ctx)
    fx = fixtures or generate_fixtures(spark, FixtureConfig(anchor=ctx.anchor_date))

    sales = job1_sales_data(
        fx["customers"], fx["products"], fx["orders"], ctx, tracker
    )
    sales_path = f"{work_dir}/sales_data_external"
    sales.write.mode("overwrite").parquet(sales_path)
    sales_back = spark.read.parquet(sales_path)

    asset = job2_asset(spark, sales_back, ctx, tracker)
    asset_path = f"{work_dir}/sales_analytics_asset"
    asset.write.mode("overwrite").parquet(asset_path)

    # S6+S7: drop + register the written parquet as the external asset
    # table, then verify through SQL — LIMIT sample + COUNT(*) re-read —
    # exactly the reference's write-back idiom (generate-asset.scala:
    # 293-324, 333-338).
    drop_table(spark, "sales_analytics_asset")
    create_external_table(
        spark, "sales_analytics_asset", SALES_ANALYTICS_ASSET, asset_path
    )
    n = verify_table_sql(spark, "sales_analytics_asset")

    registry = tracker.to_registry_df(
        spark,
        source_path=sales_path,
        target_path=asset_path,
        record_count=n,
        source_files=["customers", "products", "orders"],
        description="sales analytics asset generation",
    )
    registry_path = f"{work_dir}/data_lineage_registry"
    registry.write.mode("append").parquet(registry_path)
    # S8+S9: catalog registry — create-if-not-exists + append
    # (generate-asset.scala:350, 367-370)
    create_table_if_not_exists(spark, "data_lineage_registry", DATA_LINEAGE_REGISTRY)
    append_hive_table(registry, "data_lineage_registry")
    dot_path = tracker.write_dot(f"{work_dir}/lineage_graph_{ctx.job_id}.dot")
    return {
        "asset_path": asset_path,
        "asset_table": "sales_analytics_asset",
        "asset_rows": n,
        "registry_path": registry_path,
        "registry_table": "data_lineage_registry",
        "dot_path": dot_path,
        "tracker": tracker,
    }
