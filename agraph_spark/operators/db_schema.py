"""Database-schema source: schema catalog -> entities/relations
(SURVEY.md S3, E10, E11).

Reference walks a nested {database_name, tables:[{name, columns:[...]}]}
dict in Python (entity_extractor.py:259-596, relation_extractor.py:490-742).
Spark restatement: the schema lands as a small DataFrame (one row per
column, from information_schema or a JSON catalog dump) and everything is
joins/explodes:

- E10: database/table/column entities; table-prefix cleaning (tbl_/tb_/t_)
  as alias; business concepts from the keyword map (conf 0.7).
- E11: db-CONTAINS-table, table-CONTAINS-column, column-FK-column,
  table-SIMILAR_TO-table when name-token Jaccard > 0.6
  (relation_extractor.py:672-742) via array_intersect/array_union on
  split(name, '_') — blocked by shared tokens, not all-pairs, when large.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_PREFIXES = ["tbl_", "tb_", "t_"]  # entity_extractor.py:364
COMMON_COLUMNS = ["id", "created_at", "updated_at", "deleted_at"]  # :365
SIMILAR_JACCARD = 0.6  # table-name token Jaccard above this is SIMILAR_TO

# entity_extractor.py:578-590
BUSINESS_CONCEPTS = [
    ("user", "User Management"), ("customer", "Customer Management"),
    ("order", "Order Management"), ("product", "Product Management"),
    ("inventory", "Inventory Management"), ("payment", "Payment Processing"),
    ("shipment", "Shipping Management"), ("category", "Category Management"),
    ("review", "Review System"), ("cart", "Shopping Cart"),
    ("wishlist", "Wishlist Management"),
]

# input: one row per column
CATALOG_SCHEMA = (
    "database_name string, table_name string, column_name string, "
    "data_type string, nullable boolean, primary_key boolean, "
    "fk_ref_table string, fk_ref_column string"
)


def catalog_from_dict(spark: SparkSession, schema: dict) -> DataFrame:
    """Flatten the reference's nested schema dict into the catalog table."""
    rows = []
    db = schema.get("database_name", "")
    for t in schema.get("tables", []):
        cols = t.get("columns", []) or [{}]
        for c in cols:
            fk = c.get("foreign_key") or {}
            rows.append(
                (db, t.get("name", ""), c.get("name", ""), c.get("type", ""),
                 bool(c.get("nullable", True)), bool(c.get("primary_key", False)),
                 fk.get("table"), fk.get("column"))
            )
    from ..session import local_df

    # Arrow local frame: this catalog is consumed by every entity/relation
    # branch below — the plain-list path re-ran 32 python conversion tasks
    # per consuming action (the r6 worker-stall surface; r6c)
    return local_df(spark, rows, CATALOG_SCHEMA)


def clean_table_name(col: F.Column) -> F.Column:
    """Strip the FIRST matching prefix — the reference breaks after one hit
    (entity_extractor.py:545-563)."""
    low = F.lower(col)
    chain = F  # F.when opens the chain, Column.when extends it
    for prefix in TABLE_PREFIXES:
        chain = chain.when(low.startswith(prefix),
                           F.substring(low, len(prefix) + 1, 0x0FFFFFFF))
    return chain.otherwise(low)


def extract_db_entities(catalog: DataFrame) -> DataFrame:
    """E10: database/table/column entities + business concepts."""
    db = (
        catalog.select("database_name").where(F.col("database_name") != "").distinct()
        .select(
            F.col("database_name").alias("name"),
            F.lit("database").alias("entity_type"),
            F.lit(1.0).alias("confidence"),
            F.array().cast("array<string>").alias("aliases"),
        )
    )
    tables = (
        catalog.select("table_name").where(F.col("table_name") != "").distinct()
        .select(
            F.col("table_name").alias("name"),
            F.lit("table").alias("entity_type"),
            F.lit(1.0).alias("confidence"),
            F.when(
                clean_table_name(F.col("table_name")) != F.lower("table_name"),
                F.array(clean_table_name(F.col("table_name"))),
            ).otherwise(F.array().cast("array<string>")).alias("aliases"),
        )
    )
    columns = (
        catalog.where((F.col("column_name") != "") & ~F.lower("column_name").isin(COMMON_COLUMNS))
        .select(
            F.concat_ws(".", "table_name", "column_name").alias("name"),
            F.lit("column").alias("entity_type"),
            F.lit(1.0).alias("confidence"),
            F.array(F.col("column_name")).alias("aliases"),
        )
    )
    from ..session import local_df

    kw = local_df(catalog.sparkSession, BUSINESS_CONCEPTS, "kw string, concept string")
    concepts = (
        catalog.select(clean_table_name(F.col("table_name")).alias("clean")).distinct()
        .join(F.broadcast(kw), F.instr(F.col("clean"), F.col("kw")) > 0)
        .select("concept").distinct()
        .select(
            F.col("concept").alias("name"),
            F.lit("concept").alias("entity_type"),
            F.lit(0.7).alias("confidence"),
            F.array().cast("array<string>").alias("aliases"),
        )
    )
    return db.unionByName(tables).unionByName(columns).unionByName(concepts)


def extract_db_relations(catalog: DataFrame) -> DataFrame:
    """E11: containment + FK + table-name-similarity relations. Output
    (head_name, pred, tail_name, confidence)."""
    db_table = (
        catalog.select("database_name", "table_name").distinct()
        .where((F.col("database_name") != "") & (F.col("table_name") != ""))
        .select(
            F.col("database_name").alias("head_name"),
            F.lit("contains").alias("pred"),
            F.col("table_name").alias("tail_name"),
            F.lit(1.0).alias("confidence"),
        )
    )
    table_col = (
        catalog.where(F.col("column_name") != "")
        .select(
            F.col("table_name").alias("head_name"),
            F.lit("contains").alias("pred"),
            F.concat_ws(".", "table_name", "column_name").alias("tail_name"),
            F.lit(1.0).alias("confidence"),
        )
    )
    fks = (
        catalog.where(F.col("fk_ref_table").isNotNull())
        .select(
            F.concat_ws(".", "table_name", "column_name").alias("head_name"),
            F.lit("foreign_key").alias("pred"),
            F.concat_ws(".", "fk_ref_table", "fk_ref_column").alias("tail_name"),
            F.lit(1.0).alias("confidence"),
        )
    )
    toks = catalog.select("table_name").distinct().select(
        "table_name", F.array_distinct(F.split(clean_table_name(F.col("table_name")), "_")).alias("toks")
    )
    a, b = toks.alias("a"), toks.alias("b")
    sim = (
        a.join(b, F.col("a.table_name") < F.col("b.table_name"))
        .withColumn(
            "jac",
            F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
            / F.size(F.array_union(F.col("a.toks"), F.col("b.toks"))),
        )
        .where(F.col("jac") > SIMILAR_JACCARD)
        .select(
            F.col("a.table_name").alias("head_name"),
            F.lit("similar_to").alias("pred"),
            F.col("b.table_name").alias("tail_name"),
            F.round("jac", 6).alias("confidence"),
        )
    )
    return db_table.unionByName(table_col).unionByName(fks).unionByName(sim)
