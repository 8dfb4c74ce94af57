package graft

import graft.functions.DotProduct
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** SQ8 scalar quantization and BM25: quantizer fidelity bounds and recall
  * against the exact scan on real testdata; ranking semantics (idf spread,
  * tf saturation, length normalization) on a crafted corpus where the
  * expected order is hand-derivable.
  */
class Advanced13Spec extends SparkSuite {
  import spark.implicits._

  test("q145 SQ8 codes are bytes and reconstruction error is within half a step") {
    val codes = ops.Retrieval.sqCodes(spark, sf0001)
    val flat = codes.select(posexplode(col("cv")).as(Seq("i", "c")))
    val bad = flat.filter(col("c") < 0 || col("c") > 255 || col("c") =!= round(col("c")))
    assert(bad.count() == 0, "codes must be integer-valued in [0, 255]")

    // decode(c) = mn + c*(mx-mn)/255 must sit within half a quantization
    // step of the original value, per dimension.
    val params = ops.Retrieval.sqParams(spark, sf0001)
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), graft.functions.VectorFunctions.asDouble(col("embedding")).as("v"))
    val err = emb.join(codes.select(col("vec_id"), col("cv")), Seq("vec_id"))
      .crossJoin(broadcast(params))
      .select(posexplode(arrays_zip(col("v"), col("cv"), col("mns"), col("mxs"))).as(Seq("i", "z")))
      .select(
        abs(col("z.v") - (col("z.mns") + col("z.cv") * (col("z.mxs") - col("z.mns")) / 255)).as("e"),
        ((col("z.mxs") - col("z.mns")) / 255 / 2 + lit(1e-12)).as("half"))
    assert(err.filter(col("e") > col("half")).count() == 0,
      "every reconstructed dimension within half a quantization step")
  }

  test("q145 SQ8 top-3 matches the exact double-precision scan (recall)") {
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), graft.functions.VectorFunctions.asDouble(col("embedding")).as("v"))
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val exact = emb.crossJoin(broadcast(q))
      .select(col("qid"), col("vec_id").as("cand"),
        (DotProduct.dot(col("qv"), col("qv")) + DotProduct.dot(col("v"), col("v"))
          - lit(2) * DotProduct.dot(col("qv"), col("v"))).as("dist"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("dist"), col("cand"))))
      .filter(col("rnk") <= 3)
      .select(col("qid"), col("cand")).as[(Long, Long)].collect().toSet
    val sq = ops.Retrieval.sq8Search.run(spark, sf0001)
      .select(col("qid"), col("cand")).as[(Long, Long)].collect().toSet
    val recall = (exact intersect sq).size.toDouble / exact.size
    // 8 bits/dimension is a high-fidelity quantizer: on the isotropic
    // testdata the top-3 sets should agree almost everywhere.
    assert(recall >= 0.8, s"SQ8 recall@3 $recall below 0.8 (exact=$exact sq=$sq)")
  }

  private lazy val bmDir: String = {
    val d = Files.createTempDirectory("graft_adv13_fixture").toString
    // df('dup') = 1 of 12 docs (high idf); df('spark') = 11 (low idf).
    // doc 10 repeats 'spark' (tf saturation), doc 11 is short (length norm).
    val docs =
      Seq((0L, "dup w w w")) ++
        (1L to 9L).map(i => (i, "spark w w w")) ++
        Seq((10L, "spark spark w w"), (11L, "spark w"))
    docs.map { case (i, t) => (i, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    d
  }

  test("q146 BM25 ranks by idf spread, tf saturation, and length norm") {
    val rows = ops.Retrieval.bm25.run(spark, bmDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("bm25")).toMap
    // the lone 'dup' doc wins on idf despite identical tf and length
    assert(rows(0L) > rows.filterKeys(_ != 0L).values.max,
      "rare-term doc must outrank every common-term doc")
    // doubled tf raises the score, sub-linearly (saturation): tf=2 beats
    // tf=1 at the same length, but by less than 2x
    assert(rows(10L) > rows(1L) && rows(10L) < 2 * rows(1L))
    // a shorter doc with the same tf scores higher than a longer one
    assert(rows(11L) > rows(1L))
    // top-10 of 12 candidate docs, ranked 1..10
    assert(rows.size == 10)
  }
}
