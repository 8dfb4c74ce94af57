package graft

import java.nio.file.Files

/** Semantics of q92/q93 on crafted rows: ISO weekday alignment across
  * engines and outer-explode's null row for matchless documents.
  */
class Advanced7Spec extends SparkSuite {
  import spark.implicits._

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft_adv7_fixture").toString
    // 2024-02-11 is a Sunday (iso_dow must be 7, not Spark weekday's 6);
    // leap February: last_day must be the 29th.
    Seq((1L, 5L, "O", 10.0, java.sql.Timestamp.valueOf("2024-02-11 00:00:00"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .coalesce(1).write.parquet(s"$d/orders.parquet")
    Seq((5L, "C5", "AUTO", 1.0)).toDF("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
      .coalesce(1).write.parquet(s"$d/customer.parquet")
    Seq(
      (0L, "tiny words only here", "en", "s0", 20L),           // no >=8-letter word
      (1L, "gigantic vocabulary is wonderful", "en", "s0", 32L)) // 3 matches
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    d
  }

  test("q92: ISO weekday, leap-month last_day, translate/lpad shapes") {
    val r = ops.SqlSurface.calendarStrings.run(spark, dir).collect().head
    val byName = r.schema.fieldNames.zipWithIndex.toMap
    assert(r.getInt(byName("iso_dow")) == 7) // Sunday
    assert(r.getDate(byName("month_end")).toString == "2024-02-29")
    assert(r.getDate(byName("month_start")).toString == "2024-02-01")
    assert(r.getString(byName("cust_code")) == "000000005")
    assert(r.getString(byName("seg_lowvowel")) == "aUTO".replace("U", "u").replace("O", "o"))
    assert(r.getString(byName("seg_tag")) == "AAA")
  }

  test("q93: matchless doc keeps a (null, null) row; positions are 0-based") {
    val rows = ops.SqlSurface.explodeOuter.run(spark, dir).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getInt(1)),
        Option(r.getString(2))))
    assert(rows.contains((0L, None, None)), s"outer row missing: ${rows.toSeq}")
    val doc1 = rows.filter(_._1 == 1L)
    assert(doc1.map(_._2.get).toSeq == Seq(0, 1, 2))
    assert(doc1.map(_._3.get).toSeq == Seq("gigantic", "vocabulary", "wonderful"))
  }
}
