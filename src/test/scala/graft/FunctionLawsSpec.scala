package graft

import graft.functions.{Deletions, Deletions2, DotProduct, NGrams, SqEncode}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property laws for the custom Catalyst expressions, on seeded
  * generated inputs (deterministic — same style as GeoSpec). The
  * blocking-completeness laws are the ones the fuzzy joins' EXACTNESS
  * claims rest on: a pair within edit distance d must share a depth-d
  * deletion key, for every random edit, not just the crafted fixtures.
  * All properties evaluate through real DataFrames, so the codegen path
  * (not just nullSafeEval) is what's tested.
  */
class FunctionLawsSpec extends SparkSuite {
  import spark.implicits._

  private def seeded[A](g: Gen[A]): A =
    g.apply(Gen.Parameters.default, Seed(7L)).get

  private val strGen: Gen[String] = for {
    n <- Gen.choose(0, 12)
    cs <- Gen.listOfN(n, Gen.alphaLowerChar)
  } yield cs.mkString

  /** One random unit edit (substitute / insert / delete). */
  private val editGen: Gen[String => String] = for {
    op <- Gen.choose(0, 2)
    posSeed <- Gen.choose(0, 1000)
    ch <- Gen.alphaLowerChar
  } yield { s: String =>
    op match {
      case 0 if s.nonEmpty => // substitute
        val p = posSeed % s.length
        s.substring(0, p) + ch + s.substring(p + 1)
      case 1 => // insert
        val p = posSeed % (s.length + 1)
        s.substring(0, p) + ch + s.substring(p)
      case _ if s.nonEmpty => // delete
        val p = posSeed % s.length
        s.substring(0, p) + s.substring(p + 1)
      case _ => ch.toString // empty string: insert instead
    }
  }

  test("law: strings one edit apart always share a depth-1 deletion key") {
    val pairs = seeded(Gen.listOfN(300, Gen.zip(strGen, editGen)))
      .map { case (s, e) => (s, e(s)) }
    val ok = pairs.toDF("a", "b")
      .select(arrays_overlap(Deletions.deletions(col("a")),
        Deletions.deletions(col("b"))).as("hit"))
      .collect().map(_.getBoolean(0))
    assert(ok.forall(identity), s"missed ${ok.count(!_)} of ${ok.length} pairs")
  }

  test("law: strings two edits apart always share a depth-2 deletion key") {
    val pairs = seeded(Gen.listOfN(300, Gen.zip(strGen, editGen, editGen)))
      .map { case (s, e1, e2) => (s, e2(e1(s))) }
    val ok = pairs.toDF("a", "b")
      .select(arrays_overlap(Deletions2.deletions2(col("a")),
        Deletions2.deletions2(col("b"))).as("hit"))
      .collect().map(_.getBoolean(0))
    assert(ok.forall(identity), s"missed ${ok.count(!_)} of ${ok.length} pairs")
  }

  test("law: ngrams(n) enumerates exactly the token windows, in order") {
    val toksGen = for {
      n <- Gen.choose(0, 10)
      ts <- Gen.listOfN(n, Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.take(5).mkString))
    } yield ts
    val inputs = seeded(Gen.listOfN(100, toksGen))
    for (n <- Seq(1, 2, 3, 5)) {
      val got = inputs.map(_.toArray).toSeq.toDF("toks")
        .select(NGrams.ngrams(col("toks"), n).as("g"))
        .collect().map(_.getSeq[String](0).toList)
      val want = inputs.map(ts => ts.sliding(n).filter(_.size == n).map(_.mkString(" ")).toList)
      assert(got.toSeq == want, s"n=$n mismatch")
    }
  }

  test("law: three replace-sweeps per BPE rule reach the per-rule fixpoint") {
    // q135's engine applies each merge rule as 3 sentinel-padded replace
    // sweeps; the law: for adversarial repeat-heavy words (the case a
    // single sweep under-merges, e.g. "papa" with rule p+a), 3 sweeps
    // equal the run-to-fixpoint reference for every rule in the table.
    def sweep(s: String, a: String, b: String): String =
      s.replace(s" $a $b ", s" ${a + b} ")
    def threeSweeps(w: String): String =
      ops.Tokenization.BpeMerges.foldLeft(" " + w.map(_.toString).mkString(" ") + " ") {
        case (s, (a, b)) => sweep(sweep(sweep(s, a, b), a, b), a, b)
      }
    def fixpoint(w: String): String =
      ops.Tokenization.BpeMerges.foldLeft(" " + w.map(_.toString).mkString(" ") + " ") {
        case (s, (a, b)) =>
          Iterator.iterate(s)(sweep(_, a, b)).sliding(2)
            .collectFirst { case Seq(x, y) if x == y => x }.get
      }
    // alphabet restricted to the table's symbols so rules actually fire
    val wordGen = for {
      n <- Gen.choose(1, 12)
      cs <- Gen.listOfN(n, Gen.oneOf('p', 'a', 'e', 'r', 'i', 'n', 't', 's', 'm'))
    } yield cs.mkString
    val words = seeded(Gen.listOfN(500, wordGen)) ++
      Seq("papa", "erer", "atat", "aaaa", "pppaaa", "merer", "parpar")
    words.foreach { w =>
      assert(threeSweeps(w) == fixpoint(w), s"word '$w' needs more sweeps")
    }
  }

  test("law: graft_dot equals the sequential reference fold exactly") {
    val vecGen = Gen.listOfN(16, Gen.choose(-10.0, 10.0)).map(_.toArray)
    val pairs = seeded(Gen.listOfN(100, Gen.zip(vecGen, vecGen)))
    val got = pairs.toDF("a", "b")
      .select(DotProduct.dot(col("a"), col("b")).as("d"))
      .collect().map(_.getDouble(0))
    val want = pairs.map { case (a, b) =>
      var s = 0.0; var i = 0
      while (i < 16) { s += a(i) * b(i); i += 1 }
      s
    }
    assert(got.toSeq == want.toSeq) // identical order of operations -> bit equality
  }

  test("graft_sq8_encode rejects wrong-typed arguments at analysis, not on an executor") {
    val df = Seq((Array(1.0, 2.0), "nope")).toDF("v", "s")
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(SqEncode.sq8Encode(col("v"), col("v"), col("s"))).collect()
    }
    assert(ex.getMessage.contains("array<double>"), ex.getMessage)
    // the well-typed call still works (constant dim encodes as 0)
    val ok = df.select(SqEncode.sq8Encode(col("v"), col("v"), col("v")).as("c"))
      .collect()(0).getSeq[Double](0)
    assert(ok == Seq(0.0, 0.0))
  }
}
