package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.pipeline.TextOps
import graft.pipeline.TextOps.{hash60, shingles}

/** Native hash60 / shingles kernels: bit-identical (`<=>`) to the built-in
  * formulas they replaced, under whole-stage codegen and interpreted. */
class TextKernelsSpec extends SparkSpec {

  // The replaced formulas — kept here only as the parity reference.
  private def refHash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")
  private def refShingles(ws: Column, n: Int): Column =
    when(size(ws) >= n,
      transform(sequence(lit(0), size(ws) - n),
        i => array_join(slice(ws, i + 1, lit(n)), " ")))
      .otherwise(array())

  private val Modes = Seq(
    "codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def inEachMode(body: String => Unit): Unit =
    Modes.foreach { case (mode, confs) =>
      val old = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body(mode)
      finally old.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

  /** Edge texts plus seeded random ones over an alphabet of runs of spaces,
    * accents, CJK and a non-BMP emoji. Built from an RDD, not a local Seq,
    * so the optimizer cannot fold the projections before execution. */
  private def texts: DataFrame = {
    import spark.implicits._
    val fixed = Seq(null, "", " ", "a", "a b", "a  b", "  lead", "trail  ", "a   b  c",
      "héllo wörld 日本語 テキスト", "🙂 x 🙂 y", "one two three four five six")
    val pieces = Array("a", "b", "é", "日本", "🙂", "x", " ", "  ", "the", "ß")
    val rnd = new scala.util.Random(404)
    val random = Seq.fill(300)(Seq.fill(rnd.nextInt(24))(pieces(rnd.nextInt(pieces.length))).mkString)
    spark.sparkContext.parallelize(fixed ++ random, 3).toDF("text")
  }

  private def assertSame(df: DataFrame, a: Column, b: Column, what: String): Unit = {
    val bad = df.filter(!(a <=> b)).select(col("*"), a.as("new"), b.as("ref"))
    val shown = bad.limit(5).collect().mkString("\n")
    assert(shown.isEmpty, s"$what: mismatches\n$shown")
  }

  test("hash60 is bit-identical to conv(substring(md5(s), 1, 15), 16, 10), seeded too") {
    inEachMode { mode =>
      val df = texts
      assertSame(df, hash60(col("text")), refHash60(col("text")), s"$mode hash60")
      assertSame(df, hash60(col("text").cast("binary")), refHash60(col("text").cast("binary")),
        s"$mode hash60 over binary")
      (0 until 8).foreach { j =>
        assertSame(df, hash60(col("text"), j),
          refHash60(concat(col("text"), lit("#" + j))), s"$mode hash60(c, $j)")
      }
      val nulls = df.filter(col("text").isNull).select(hash60(col("text"))).collect()
      assert(nulls.length == 1 && nulls.head.isNullAt(0), s"$mode: null text must hash to null")
      // non-vacuous: the hashes are spread over the full 60-bit range
      val hs = df.filter(col("text").isNotNull).select(hash60(col("text"))).collect().map(_.getLong(0))
      assert(hs.forall(h => h >= 0 && h < (1L << 60)) && hs.max >= (1L << 59), s"$mode range")
    }
  }

  test("shingles are bit-identical to the transform/array_join formula for n = 0, 1, 3, 5, 40") {
    inEachMode { mode =>
      val df = texts
      val ws = TextOps.tokens(col("text"))
      Seq(0, 1, 3, 5, 40).foreach { n =>
        assertSame(df, shingles(ws, n), refShingles(ws, n), s"$mode shingles n=$n")
        // the MinHash path: seeded hashes of every emitted shingle
        val ex = df.select(posexplode(shingles(ws, n)).as(Seq("p", "s")), refShingles(ws, n).as("r"))
        assertSame(ex, hash60(col("s"), 3),
          refHash60(concat(element_at(col("r"), col("p") + 1), lit("#3"))), s"$mode hash60(shingle) n=$n")
      }
      val short = df.filter(col("text") === "a b" || col("text").isNull)
        .select(shingles(ws, 5).as("s")).collect()
      assert(short.length == 2 && short.forall(r => !r.isNullAt(0) && r.getSeq[String](0).isEmpty),
        s"$mode: null or short input must give an empty, non-null array")
      val three = df.filter(col("text") === "one two three four five six")
        .select(shingles(ws, 3)).head().getSeq[String](0)
      assert(three == Seq("one two three", "two three four", "three four five", "four five six"))
    }
  }

  test("shingles skip null tokens inside a window as array_join does") {
    inEachMode { mode =>
      import spark.implicits._
      val arrays = Seq(Seq("a", null, "b", "c"), null, Seq.empty[String], Seq(null, null),
        Seq("x", "y", null))
      val df = spark.sparkContext.parallelize(arrays.map(Tuple1(_)), 2).toDF("ws")
      Seq(1, 2, 3).foreach { n =>
        assertSame(df, shingles(col("ws"), n), refShingles(col("ws"), n), s"$mode null tokens n=$n")
      }
    }
  }
}
