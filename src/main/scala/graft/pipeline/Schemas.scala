package graft.pipeline

import org.apache.spark.sql.types._

/** Declared schemas for the cocktails-domain tables — the engine's
  * equivalent of the reference DDL (ref: database/data_tables.sql:5-31).
  * All reads declare these explicitly; no runtime inference in tested
  * paths (SURVEY.md §1.2).
  */
object Schemas {

  /** Raw glass-inventory CSV (ref: data/bar_data.csv, read at
    * build_database.py:78). `stock` arrives dirty (e.g. "34 glasses") and
    * is cleaned downstream.
    */
  val barStockRaw: StructType = StructType(Seq(
    StructField("glass_type", StringType),
    StructField("stock", StringType),
    StructField("bar", StringType)))

  /** One logical sales-feed schema shared by all three city formats
    * (ref: build_database.py:105-147). The leading index column is
    * discarded after read.
    */
  val salesRaw: StructType = StructType(Seq(
    StructField("idx", LongType),
    StructField("dateOfSale", TimestampType),
    StructField("drink", StringType),
    StructField("price", DoubleType)))

  /** Post-load `global_sales` (ref: database/data_tables.sql:14-20). */
  val globalSales: StructType = StructType(Seq(
    StructField("saleID", LongType, nullable = false),
    StructField("dateOfSale", TimestampType),
    StructField("drink", StringType),
    StructField("price", DoubleType),
    StructField("bar", StringType)))

  /** Post-load `bar_stock` (ref: database/data_tables.sql:5-10). */
  val barStock: StructType = StructType(Seq(
    StructField("stockID", LongType, nullable = false),
    StructField("glassType", StringType),
    StructField("stock", IntegerType),
    StructField("bar", StringType)))

  /** One drink object as the search API returns it: the 7 projected
    * fields, all strings (ref: build_database.py:28-46). Fields beyond
    * these are never read.
    */
  val apiDrink: StructType = StructType(
    Seq("idDrink", "strDrink", "strCategory", "strIBA", "strAlcoholic", "strGlass",
      "dateModified").map(StructField(_, StringType)))

  /** The 7 projected cocktail-dimension columns (ref:
    * database/data_tables.sql:23-31, projection at
    * build_database.py:187-197).
    */
  val cocktails: StructType = StructType(Seq(
    StructField("idDrink", IntegerType),
    StructField("strDrink", StringType),
    StructField("strCategory", StringType),
    StructField("strIBA", StringType),
    StructField("strAlcoholic", StringType),
    StructField("strGlass", StringType),
    StructField("dateModified", TimestampType)))
}
