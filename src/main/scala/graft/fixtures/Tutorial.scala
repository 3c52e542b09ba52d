package graft.fixtures

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference tutorial's seed dataset, encoded as engine fixtures
  * (reference: aggregation_example.sql:18-53 nodes, :220-298 facts).
  *
  * Parent links are seeded by *name* and resolved to generated node
  * ids — the equivalent of the reference's scalar subqueries in
  * INSERT…VALUES (SURVEY.md J5, reference :23-25 etc.). Node ids are
  * random UUIDs per the reference's `uuid()` column DEFAULT
  * (reference :3).
  */
object Tutorial {

  /** (natural_key, name, level_name, parent_name) — reference :18-53. */
  private val nodeSeed: Seq[(Int, String, String, Option[String])] = Seq(
    (0, "All Products", "Total Products", None),
    (10, "Produce", "Category", Some("All Products")),
    (101, "Spinach", "UPC", Some("Produce")),
    (102, "Tomatoes", "UPC", Some("Produce")),
    (20, "Candy", "Category", Some("All Products")),
    (201, "Hershey Bar", "UPC", Some("Candy")),
    (202, "Nerds", "UPC", Some("Candy")))

  /** (product_name, customer_id, date_id, unit_quantity, sales_amount)
    * — reference :220-298. Totals: sales 33.00, units 24, 5 distinct
    * customers, 8 rows.
    */
  private val factSeed: Seq[(String, String, String, String, String)] = Seq(
    ("Hershey Bar", "Phil", "2022-01-01", "1", "3.00"),
    ("Hershey Bar", "Lottie", "2022-01-02", "5", "15.00"),
    ("Nerds", "Kalie", "2022-01-02", "2", "5.00"),
    ("Tomatoes", "Phil", "2022-01-02", "2", "2.00"),
    ("Spinach", "Popeye", "2022-01-03", "10", "5.00"),
    ("Spinach", "Brutus", "2022-01-04", "1", "0.50"),
    ("Spinach", "Lottie", "2022-01-04", "1", "0.50"),
    ("Spinach", "Phil", "2022-01-05", "2", "2.00"))

  private val nodeSchema = StructType(Seq(
    StructField("node_id", StringType, nullable = false),
    StructField("node_natural_key", IntegerType, nullable = false),
    StructField("node_name", StringType),
    StructField("level_name", StringType),
    StructField("parent_node_id", StringType)))

  /** `product_nodes` with uuid ids and resolved parent ids
    * (reference DDL :1-14), as a local relation: building and
    * collecting it runs no Spark job. The ids are drawn once on the
    * driver, so they are fixed data — every read and every self-join
    * of the returned DataFrame sees the same ids and the parent links
    * cannot dangle (the SURVEY.md P9 hazard of re-evaluating `uuid()`
    * per join branch does not arise). DuckDB `NUMERIC` ⇒
    * DecimalType(18,3) equivalence is handled on the facts side.
    */
  def productNodes(spark: SparkSession): DataFrame = {
    val idOf = nodeSeed.map { case (_, name, _, _) =>
      name -> java.util.UUID.randomUUID().toString }.toMap
    val rows = nodeSeed.map { case (key, name, level, parent) =>
      Row(idOf(name), key, name, level, parent.map(idOf).orNull) }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), nodeSchema)
  }

  /** `sales_facts` (reference DDL :211-218) with product ids resolved
    * by name — the scalar-subquery lookups of the reference inserts.
    * DuckDB `NUMERIC` = DECIMAL(18,3) (SURVEY.md §1.2).
    */
  def salesFacts(spark: SparkSession, nodes: DataFrame): DataFrame = {
    import spark.implicits._
    val raw = factSeed.toDF("product_name", "customer_id", "date_s", "qty_s", "amt_s")
    val keyed = raw.join(broadcast(nodes.select(col("node_name"),
        col("node_natural_key"))),
      col("product_name") === col("node_name"))
    keyed.select(
      col("node_natural_key").as("product_id"),
      col("customer_id"),
      to_date(col("date_s")).as("date_id"),
      col("qty_s").cast(DecimalType(18, 3)).as("unit_quantity"),
      col("amt_s").cast(DecimalType(18, 3)).as("sales_amount"))
  }
}
