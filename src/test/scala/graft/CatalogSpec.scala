package graft

import graft.catalog.ParquetCatalog
import org.apache.spark.sql.functions._

class CatalogSpec extends SparkSpec {

  test("nested struct fields flatten to dotted paths; arrays stay REPEATED") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_nested").toString
    Seq((1L, ("acme", 7L), Seq(("a", 1L)), Seq(2L, 3L)))
      .toDF("id", "org", "items", "scores")
      .select(
        col("id"),
        col("org").cast("struct<name:string,org_id:bigint>"),
        col("items").cast("array<struct<sku:string,qty:bigint>>"),
        col("scores"))
      .write.mode("overwrite").parquet(s"$dir/orders_nested.parquet")
    val meta = ParquetCatalog.tableMeta(spark, dir, "orders_nested")
    val byName = meta.columns.map(c => c.name -> c).toMap
    assert(byName.keySet === Set(
      "id", "org.name", "org.org_id", "items.sku", "items.qty", "scores"))
    assert(byName("org.org_id").dataType === "bigint")
    assert(!byName("org.org_id").isArray)
    // fields under an array are REPEATED → never key candidates
    assert(byName("items.qty").isArray)
    assert(byName("scores").isArray)
    // ordinals are the flattened order
    assert(meta.columns.map(_.ordinal) === meta.columns.indices.map(identity))
  }

  test("table types: _tabletypes.json sidecar drives VIEW/EXTERNAL filtering") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_types").toString
    Seq(1L).toDF("id").write.mode("overwrite").parquet(s"$dir/base.parquet")
    Seq(2L).toDF("id").write.mode("overwrite").parquet(s"$dir/v_latest.parquet")
    Seq(3L).toDF("id").write.mode("overwrite").parquet(s"$dir/ext_raw.parquet")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_tabletypes.json"),
      """{"v_latest": "VIEW", "ext_raw": "EXTERNAL"}""")
    def names(iv: Boolean, ie: Boolean) =
      ParquetCatalog.tables(spark, dir, includeViews = iv, includeExternal = ie)
        .map(_.tableName).toSet
    assert(names(iv = false, ie = false) === Set("base")) // reference defaults
    assert(names(iv = true, ie = false) === Set("base", "v_latest"))
    assert(names(iv = true, ie = true) === Set("base", "v_latest", "ext_raw"))
    val types = ParquetCatalog.tables(spark, dir, includeViews = true, includeExternal = true)
      .map(t => t.tableName -> t.tableType).toMap
    assert(types === Map("base" -> "TABLE", "v_latest" -> "VIEW", "ext_raw" -> "EXTERNAL"))
    // rewriting the sidecar in place re-types the tables on the next read
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_tabletypes.json"), """{"base": "VIEW"}""")
    assert(names(iv = false, ie = false) === Set("v_latest", "ext_raw"))
    assert(new GraftEngine(spark, dir).tables.map(_.tableName).toSet === Set("v_latest", "ext_raw"))
  }

  test("listTables rejects a missing or non-directory path by name") {
    val file = java.nio.file.Files.createTempFile("graft_not_a_dir", ".txt").toString
    for (path <- Seq(s"$file.missing", file)) {
      val e = intercept[IllegalArgumentException](ParquetCatalog.listTables(path))
      assert(e.getMessage.contains(path))
    }
  }

  test("key classification sees dotted nested keys") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_nested2").toString
    Seq((1L, (42L, "x")))
      .toDF("id", "customer")
      .select(col("id"), col("customer").cast("struct<customer_id:bigint,note:string>"))
      .write.mode("overwrite").parquet(s"$dir/fact_sales.parquet")
    val cols = new graft.GraftEngine(spark, dir).classifiedColumns
    val fk = cols.filter(col("columnName") === "customer.customer_id").collect()
    assert(fk.length === 1)
    assert(fk.head.getAs[Boolean]("is_fk_candidate"),
      "nested customer.customer_id should classify as FK candidate")
  }
}
