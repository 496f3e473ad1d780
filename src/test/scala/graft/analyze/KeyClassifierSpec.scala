package graft.analyze

import graft.core.{ColumnMeta, ColumnRef, DetectionConfig, TableMeta}
import org.scalatest.funsuite.AnyFunSuite

/** Fixtures from FIXTURES.md §1-2 (the reference's de-facto behavioral
  * spec: test_enhanced_features.py:123-142, test_config.py:22-29).
  */
class KeyClassifierSpec extends AnyFunSuite {
  import KeyClassifierSpec.tables

  private def refs(rows: (String, String, String)*): Seq[ColumnRef] =
    rows.zipWithIndex.map { case ((t, c, dt), i) =>
      ColumnRef(t, c, dt, nullable = true, isArray = false, ordinal = i, numRows = 100L)
    }

  private def classify(rows: Seq[ColumnRef], cfg: DetectionConfig = DetectionConfig()) =
    KeyClassifier.classify(tables(rows), cfg)
  private def pks(cols: Seq[KeyColumn]) = cols.filter(_.isPk).map(c => (c.tableName, c.columnName)).toSet
  private def fks(cols: Seq[KeyColumn]) = cols.filter(_.isFk).map(c => (c.tableName, c.columnName)).toSet

  test("data-vault fixture: h_customer/dim_customer PKs detected") {
    val out = classify(refs(
      ("h_customer", "id", "string"),
      ("h_customer", "business_key", "string"),
      ("dim_customer", "customer_id", "string"),
      ("dim_customer", "name", "string"),
      ("l_order", "customer_hk", "string"),
      ("l_order", "order_id", "string")))
    assert(pks(out).contains(("h_customer", "id")))
    assert(pks(out).contains(("dim_customer", "customer_id")))
    assert(pks(out).contains(("l_order", "order_id"))) // order_id stems l_order's base
    assert(fks(out).contains(("l_order", "customer_hk")))
    assert(!fks(out).contains(("dim_customer", "name")))
  }

  test("wildcard indicators: customer_* PK and *_ref FK patterns extend the heuristics") {
    import graft.core.ConfigLoader
    val rows = refs(
      ("customer", "customer_code", "string"), // no built-in key suffix
      ("customer", "customer_name", "string"),
      ("orders", "buyer_ref", "bigint"), // `ref` is not a built-in suffix
      ("orders", "note", "string"))
    val cfg = DetectionConfig(
      pkIndicatorRegexes = Seq("customer_c*").map(ConfigLoader.wildcardToRegex),
      fkIndicatorRegexes = Seq("*_ref").map(ConfigLoader.wildcardToRegex))
    val out = classify(rows, cfg)
    assert(pks(out) === Set(("customer", "customer_code")))
    assert(fks(out) === Set(("orders", "buyer_ref")))
    // without indicators nothing here is key-flagged (regression guard)
    assert(!classify(rows).exists(c => c.isPk || c.isFk))
  }

  test("table_patterns: per-prefix PK/FK patterns fire only for matching tables") {
    import graft.core.TablePattern
    // `*_code` / `*_ref` are NOT built-in key suffixes, so nothing below is
    // flagged without config (guarded at the end); with table_patterns the
    // class prefix gates which tables gain the extra patterns
    // (pattern_config.py:187-239).
    val rows = refs(
      ("ref_region", "region_code", "string"), // PK via reference-class pattern
      ("plain", "region_code", "string"), // same column, wrong prefix
      ("fact_sales", "customer_ref", "bigint"), // FK via fact-class pattern
      ("plain", "customer_ref", "bigint"))
    val cfg = DetectionConfig(tablePatterns = Seq(
      TablePattern("data_vault", "reference", "ref_", pkPatterns = Seq("*_code")),
      TablePattern("traditional_dw", "fact", "fact_", fkPatterns = Seq("*_ref"))))
    val out = classify(rows, cfg)
    assert(pks(out) === Set(("ref_region", "region_code")))
    assert(fks(out) === Set(("fact_sales", "customer_ref")))
    assert(!classify(rows).exists(c => c.isPk || c.isFk))
  }

  test("e-commerce fixture: users.id PK, orders.customer_id FK") {
    val out = classify(refs(
      ("users", "id", "bigint"),
      ("users", "name", "string"),
      ("orders", "id", "bigint"),
      ("orders", "customer_id", "bigint")))
    assert(pks(out) === Set(("users", "id"), ("orders", "id")))
    assert(fks(out) === Set(("orders", "customer_id")))
  }

  test("REPEATED (array) columns are never key candidates") {
    val out = classify(Seq(
      ColumnRef("t", "tag_ids", "bigint", nullable = true, isArray = true, 0, 10L)))
    assert(!out.exists(c => c.isPk || c.isFk))
  }

  test("non-key types are never key candidates") {
    val out = classify(refs(("t", "amount_id", "double")))
    assert(!out.exists(c => c.isPk || c.isFk))
  }

  test("TPC-H style prefixes: o_custkey bases to custkey, stems to cust") {
    val out = classify(refs(("orders", "o_custkey", "bigint")))
    val r = out.head
    assert(r.baseName === "custkey")
    assert(r.keyStem === "cust")
    assert(r.isFk)
  }
}

object KeyClassifierSpec {
  /** `refs` as catalog tables in first-appearance order, each with its
    * first column's row count — the input [[KeyClassifier.classify]] takes.
    */
  def tables(refs: Seq[ColumnRef]): Seq[TableMeta] =
    refs.map(_.tableName).distinct.map { t =>
      val cols = refs.filter(_.tableName == t)
      TableMeta(t, s"$t.parquet", "TABLE",
        cols.map(c => ColumnMeta(c.columnName, c.dataType, c.nullable, c.isArray, c.ordinal)),
        cols.head.numRows, 0L)
    }
}
