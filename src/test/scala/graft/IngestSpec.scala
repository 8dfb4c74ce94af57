package graft

import graft.sources.{Ingest, ShardWriter, ZOrder}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Source/sink roundtrips through every supported format. */
class IngestSpec extends SparkSuite {
  import spark.implicits._

  private lazy val dir = Files.createTempDirectory("graft_ingest").toString
  private lazy val orders = Tables.orders(spark, sf0001)

  test("parquet partitioned write prunes + roundtrips") {
    Ingest.writeParquetPartitioned(orders, s"$dir/p", "o_orderstatus")
    val back = Ingest.parquet(spark, s"$dir/p")
    assert(back.count() == orders.count())
    assert(back.filter(col("o_orderstatus") === "O").count() ==
      orders.filter(col("o_orderstatus") === "O").count())
  }

  test("orc roundtrips with identical aggregates") {
    Ingest.writeOrc(orders, s"$dir/orc")
    val back = Ingest.orc(spark, s"$dir/orc")
    assert(back.agg(sum(col("o_totalprice").cast("decimal(18,2)"))).head() ==
      orders.agg(sum(col("o_totalprice").cast("decimal(18,2)"))).head())
  }

  test("json lines roundtrips with explicit schema") {
    val subset = orders.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    Ingest.writeJsonLines(subset, s"$dir/json")
    val back = Ingest.jsonLines(spark, s"$dir/json", subset.schema)
    assert(back.count() == subset.count())
    assert(back.schema == subset.schema)
  }

  test("compaction rewrites to a bounded file count") {
    orders.repartition(16).write.mode("overwrite").parquet(s"$dir/many")
    Ingest.compactParquet(spark, s"$dir/many", s"$dir/compacted", 2)
    val files = new java.io.File(s"$dir/compacted").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files == 2, s"got $files files")
    assert(Ingest.parquet(spark, s"$dir/compacted").count() == orders.count())
  }

  test("clustered write sorts within files so row-group stats are selective") {
    Ingest.writeClusteredParquet(orders, s"$dir/clustered", "o_totalprice")
    val firstFile = new java.io.File(s"$dir/clustered").listFiles()
      .filter(_.getName.endsWith(".parquet")).minBy(_.getName)
    val vals = spark.read.parquet(firstFile.getAbsolutePath)
      .select("o_totalprice").collect().map(_.getDouble(0)).toSeq
    assert(vals == vals.sorted, "file not sorted on cluster column")
  }

  test("shard writer (range): disjoint increasing ranges, internal sort, no loss") {
    val out = s"$dir/shards"
    ShardWriter.writeShards(orders, out, 4, col("o_orderkey"))
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
    assert(files.length == 4, s"expected 4 shards, got ${files.length}")
    // each shard internally ordered; shard ranges disjoint and increasing,
    // so filename-order concatenation IS the global key order
    var prevMax = Long.MinValue
    var total = 0L
    files.foreach { f =>
      val keys = spark.read.parquet(f).select(col("o_orderkey"))
        .collect().map(_.getLong(0))
      assert(keys.sameElements(keys.sorted), s"shard $f not internally sorted")
      assert(keys.head > prevMax, s"shard $f overlaps previous range")
      prevMax = keys.last
      total += keys.length
    }
    assert(total == orders.count())
    // shards balanced: sampling bounds must not starve any shard
    val counts = files.map(f => spark.read.parquet(f).count())
    assert(counts.min > counts.max / 4, s"shards unbalanced: ${counts.toSeq}")
  }

  test("shard writer (hashed): membership is the mod formula, reruns identical") {
    val out = s"$dir/shards_hashed"
    ShardWriter.writeShardsHashed(orders, out, 4, col("o_orderkey"))
    val back = spark.read.parquet(out)
    // every row's directory matches the formula — and the formula is
    // content-only, so a rerun is identical by construction
    val mismatched = back.filter(
      col("shard") =!= pmod(xxhash64(col("o_orderkey")), lit(4L))).count()
    assert(mismatched == 0L)
    assert(back.count() == orders.count())
    assert(back.select(col("shard")).distinct().count() == 4L)
    val snapshot = back.filter(col("shard") === 0)
      .select(col("o_orderkey")).collect().map(_.getLong(0)).toSeq
    ShardWriter.writeShardsHashed(orders, out, 4, col("o_orderkey"))
    val rerun = spark.read.parquet(out).filter(col("shard") === 0)
      .select(col("o_orderkey")).collect().map(_.getLong(0)).toSeq
    assert(rerun.sorted == snapshot.sorted, "rerun changed hashed shard membership")
  }

  test("shard writer (range-exact): deterministic bounds, global order, balance") {
    val out = s"$dir/shards_exact"
    ShardWriter.writeShardsRangeExact(orders, out, 4, "o_orderkey")
    val back = spark.read.parquet(out)
    assert(back.count() == orders.count())
    assert(back.select(col("shard")).distinct().count() == 4L)
    // shard directories in shard order concatenate to the global key order
    var prevMax = Long.MinValue
    (0 until 4).foreach { s =>
      val keys = back.filter(col("shard") === s)
        .select(col("o_orderkey")).collect().map(_.getLong(0)).sorted
      assert(keys.head > prevMax, s"shard $s overlaps previous range")
      prevMax = keys.last
    }
    // exact quantile cuts keep shards balanced (unique keys here, so
    // each shard holds ceil/floor of n/4 exactly)
    val counts = (0 until 4).map(s => back.filter(col("shard") === s).count())
    assert(counts.max - counts.min <= 1, s"shards unbalanced: $counts")
    // bit-stable membership: a rerun reproduces identical shard content
    val snapshot = back.filter(col("shard") === 1)
      .select(col("o_orderkey")).collect().map(_.getLong(0)).toSeq.sorted
    ShardWriter.writeShardsRangeExact(orders, out, 4, "o_orderkey")
    val rerun = spark.read.parquet(out).filter(col("shard") === 1)
      .select(col("o_orderkey")).collect().map(_.getLong(0)).toSeq.sorted
    assert(rerun == snapshot, "rerun changed range-exact shard membership")
  }

  test("shard writer (range-exact): equal keys co-shard (skewed key)") {
    import spark.implicits._
    val out = s"$dir/shards_exact_skew"
    // one key holds half the rows: it must land in ONE shard intact
    val df = ((1 to 50).map(_ => 7L) ++ (51 to 100).map(_.toLong))
      .toDF("k")
    ShardWriter.writeShardsRangeExact(df, out, 4, "k")
    val back = spark.read.parquet(out)
    val shardsOf7 = back.filter(col("k") === 7L)
      .select(col("shard")).distinct().count()
    assert(shardsOf7 == 1L, "a single key split across shards")
    assert(back.count() == 100L)
    // the hot key spans several quantile targets -> duplicate cuts
    // collapse; shard ids must stay CONTIGUOUS (no missing directory)
    val ids = back.select(col("shard").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == (0L until ids.length), s"non-contiguous shard ids: $ids")
    assert(ids.length <= 4 && ids.length >= 2, ids.toString)
  }

  test("shard writer: maxRecordsPerFile rolls files inside a shard task") {
    val out = s"$dir/shards_rolled"
    ShardWriter.writeShards(orders, out, 2, col("o_orderkey"), maxRecordsPerFile = 200L)
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length > 2, s"expected rolled files, got ${files.length}")
    files.foreach { f =>
      val n = spark.read.parquet(f.getPath).count()
      assert(n <= 200, s"${f.getName} has $n rows")
    }
  }

  test("z-order write narrows per-file ranges on BOTH dims; 1-dim clustering doesn't") {
    // interleave sanity: z(3,0) spreads x bits to even positions = 0b101;
    // z(0,3) = 0b1010; z(0xFFFF,0xFFFF) fills 32 bits
    val z = ZOrder.zkey(lit(3), lit(0), 16)
    val z2 = ZOrder.zkey(lit(0), lit(3), 16)
    val z3 = ZOrder.zkey(lit(0xFFFF), lit(0xFFFF), 16)
    val Seq(a, b, c) = orders.limit(1).select(z, z2, z3).collect().head.toSeq.map(_.asInstanceOf[Long])
    assert(a == 5L && b == 10L && c == 0xFFFFFFFFL)

    val xb = pmod(col("o_custkey"), lit(256)).cast("int")
    val yb = least(floor(col("o_totalprice") / lit(2500)).cast("int"), lit(255))
    def avgRange(path: String, dim: String): Double = {
      val files = new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getPath)
      val ranges = files.map { f =>
        val r = spark.read.parquet(f)
          .select(pmod(col("o_custkey"), lit(256)).cast("int").as("xb"),
            least(floor(col("o_totalprice") / lit(2500)).cast("int"), lit(255)).as("yb"))
          .agg(min(col(dim)).as("lo"), max(col(dim)).as("hi")).collect().head
        (r.getInt(1) - r.getInt(0)) / 255.0
      }
      ranges.sum / ranges.length
    }
    ZOrder.writeZOrdered(orders, xb, yb, 16, 16, s"$dir/zorder")
    // both dimensions narrow: files cover a fraction of each dim's range
    assert(avgRange(s"$dir/zorder", "xb") < 0.5, s"xb ${avgRange(s"$dir/zorder", "xb")}")
    assert(avgRange(s"$dir/zorder", "yb") < 0.5, s"yb ${avgRange(s"$dir/zorder", "yb")}")
    // contrast: clustering on xb alone leaves yb's per-file range ~full
    orders.withColumn("xb", xb).repartitionByRange(16, col("xb"))
      .sortWithinPartitions(col("xb")).drop("xb")
      .write.mode("overwrite").parquet(s"$dir/onedim")
    assert(avgRange(s"$dir/onedim", "yb") > 0.7, s"yb ${avgRange(s"$dir/onedim", "yb")}")
  }

  test("mergeSchema read unions evolved schemas, nulls the missing column") {
    val out = s"$dir/evolved"
    Seq((1L, "a")).toDF("id", "old_col").write.parquet(s"$out/part=1")
    Seq((2L, 9.5)).toDF("id", "new_col").write.parquet(s"$out/part=2")
    val merged = Ingest.parquetMergedSchema(spark, out)
    assert(merged.columns.toSet == Set("id", "old_col", "new_col", "part"))
    val byId = merged.collect().map(r => r.getLong(r.fieldIndex("id")) -> r).toMap
    assert(byId(1L).getString(byId(1L).fieldIndex("old_col")) == "a")
    assert(byId(1L).isNullAt(byId(1L).fieldIndex("new_col")))
    assert(byId(2L).getDouble(byId(2L).fieldIndex("new_col")) == 9.5)
  }

  test("xml roundtrips with identical aggregates (Spark 4 native source)") {
    import org.apache.spark.sql.types._
    val out = s"$dir/xml"
    val base = orders.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    Ingest.writeXml(base, out, "order")
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType)))
    val back = Ingest.xml(spark, out, "order", schema)
    assert(back.count() == base.count())
    val a = base.agg(sum(col("o_totalprice")).cast("decimal(18,2)")).head.getDecimal(0)
    val b = back.agg(sum(col("o_totalprice")).cast("decimal(18,2)")).head.getDecimal(0)
    assert(a == b)
  }

  test("permissive csv captures malformed rows; dropMalformed discards them") {
    import org.apache.spark.sql.types._
    val csvDir = s"$dir/malformed"
    new java.io.File(csvDir).mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$csvDir/a.csv"),
      "id,amount\n1,10.5\nnot_a_number,oops\n3,7.25\n")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("amount", DoubleType)))
    // cache() is required before filtering on _corrupt_record alone —
    // Spark refuses column-pruned queries over ONLY the corrupt column
    // on raw files (see csvPermissive scaladoc)
    val perm = Ingest.csvPermissive(spark, csvDir, schema).cache()
    val bad = perm.filter(col("_corrupt_record").isNotNull)
    assert(bad.count() == 1)
    assert(bad.select(col("_corrupt_record")).head.getString(0) == "not_a_number,oops")
    assert(perm.filter(col("_corrupt_record").isNull).count() == 2)
    val dropped = Ingest.csvDropMalformed(spark, csvDir, schema)
    // count() alone would prune every column → nothing parses → nothing
    // drops (reports 3); malformed rows only drop when their columns are
    // actually read
    assert(dropped.select(col("id"), col("amount")).collect().length == 2)
    assert(dropped.select(sum(col("amount"))).head.getDouble(0) == 17.75)
  }

  test("csv with explicit schema roundtrips; all-null rows droppable") {
    val subset = orders.select(col("o_orderkey"), col("o_orderstatus"))
    subset.write.mode("overwrite").option("header", "true").csv(s"$dir/csv")
    val back = Ingest.csvWithSchema(spark, s"$dir/csv", subset.schema)
    assert(back.count() == subset.count())
    assert(Ingest.dropAllNullRows(back).count() == subset.count())
  }
}
