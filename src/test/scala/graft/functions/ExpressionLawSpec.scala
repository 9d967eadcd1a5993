package graft.functions

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sim.Dot64

/** The custom codegen expressions must be drop-in equivalents of the
  * built-in higher-order-function pipelines they replace — checked on
  * randomized inputs.
  */
class ExpressionLawSpec extends SparkSpec {
  import spark.implicits._

  test("WordNgrams ≡ array_distinct(transform(sequence, concat_ws))") {
    val rnd = new Random(7)
    val vocab = Seq("a", "b", "c", "d")
    val texts = (0 until 100).map { _ =>
      (0 until rnd.nextInt(12)).map(_ => vocab(rnd.nextInt(4))).mkString(" ")
    }
    val df = texts.toDF("text")
      .select(split(col("text"), " ").as("toks"))
      .select(
        WordNgrams.wordNgrams(col("toks"), 3).as("fast"),
        when(size(col("toks")) >= 3,
          array_distinct(transform(sequence(lit(0), size(col("toks")) - 3),
            i => concat_ws(" ", element_at(col("toks"), i + 1),
              element_at(col("toks"), i + 2), element_at(col("toks"), i + 3)))))
          .otherwise(array().cast("array<string>")).as("ref"))
    val bad = df.filter(not(col("fast") === col("ref"))).count()
    assert(bad === 0)
  }

  test("WordNgramsAll ≡ positional transform; index = span start") {
    val rnd = new Random(11)
    val vocab = Seq("a", "b", "c", "d")
    val texts = (0 until 100).map { _ =>
      (0 until rnd.nextInt(12)).map(_ => vocab(rnd.nextInt(4))).mkString(" ")
    }
    val df = texts.toDF("text")
      .select(split(col("text"), " ").as("toks"))
      .select(col("toks"),
        WordNgrams.wordNgramsAll(col("toks"), 3).as("fast"),
        when(size(col("toks")) >= 3,
          transform(sequence(lit(0), size(col("toks")) - 3),
            i => concat_ws(" ", element_at(col("toks"), i + 1),
              element_at(col("toks"), i + 2), element_at(col("toks"), i + 3))))
          .otherwise(array().cast("array<string>")).as("ref"))
    assert(df.filter(not(col("fast") === col("ref"))).count() === 0)
    // non-distinct: output length is exactly max(0, n_toks - 2), so the
    // element index IS the start position of that shingle
    assert(df.filter(size(col("fast")) =!=
      greatest(lit(0), size(col("toks")) - 2)).count() === 0)
  }

  /** The reference winnow pipeline (interpreted lambdas) the native
    * kernel must equal: fnv of each 8-gram, min per 4-window, distinct. */
  private def withWinnowRef(df: org.apache.spark.sql.DataFrame) = df
    .withColumn("kgram_hashes",
      expr("transform(sequence(0, length(text) - 8), i -> " +
        "fnv1a32(substring(text, CAST(i + 1 AS INT), 8)))"))
    .withColumn("ref", array_distinct(
      expr("transform(sequence(0, size(kgram_hashes) - 4), j -> " +
        "array_min(slice(kgram_hashes, CAST(j + 1 AS INT), 4)))")))
    .withColumn("fast", WinnowFingerprints.winnow(col("text"), 8, 4))

  test("WinnowFingerprints ≡ the transform/slice lambda pipeline on real docs") {
    graft.Graft.register(spark)
    val df = withWinnowRef(spark.read.parquet(s"$sf/documents.parquet")
      .filter(length(col("text")) >= 11))
    assert(df.filter(not(col("fast") === col("ref"))).count() === 0)
    // multi-byte code points hash like fnv1a32(substring(...)) too
    val uni = withWinnowRef(
      Seq("héllo wörld exträ texte für tests", "日本語のテキストです長さが十分ある").toDF("text"))
    assert(uni.filter(not(col("fast") === col("ref"))).count() === 0)
  }

  test("WinnowFingerprints ≡ lambda pipeline on random strings incl. multi-byte") {
    graft.Graft.register(spark)
    val rnd = new Random(17)
    val alphabet = "abc XYZ 0189.,é漢"
    val strs = (0 until 300).map { _ =>
      (0 until rnd.nextInt(40)).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString
    }.filter(_.length >= 11)
    val df = withWinnowRef(strs.toDF("text"))
    assert(df.filter(not(col("fast") === col("ref"))).count() === 0)
  }

  test("WordSetHits ≡ size(filter(tokens, isin)) on real docs and random token soups") {
    val words = Seq("the", "a", "of", "and", "to", "in")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(split(col("text"), "\\s+").as("toks"))
    val rnd = new Random(13)
    val soup = (0 until 200).map { _ =>
      (0 until rnd.nextInt(20)).map(_ =>
        if (rnd.nextBoolean()) words(rnd.nextInt(words.size)) else s"w${rnd.nextInt(9)}")
    }.toDF("toks")
    for (df <- Seq(docs, soup)) {
      val bad = df.select(
          WordSetHits.wordSetHits(col("toks"), words).as("fast"),
          size(filter(col("toks"), w => w.isin(words: _*))).cast("long").as("ref"))
        .filter(col("fast") =!= col("ref")).count()
      assert(bad === 0)
    }
  }

  test("Winnow/WordSetHits doGenCode compiles and agrees with interpreted eval") {
    // GenerateUnsafeProjection.generate does PURE codegen (no interpreted
    // fallback) — it throws if the generated Java doesn't compile, so this
    // is the proof the kernels really codegen instead of CodegenFallback
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenFallback, GenerateUnsafeProjection}
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import org.apache.spark.unsafe.types.UTF8String

    val wExpr = WinnowFingerprints(BoundReference(0, StringType, nullable = true), 8, 4)
    assert(!wExpr.isInstanceOf[CodegenFallback])
    val wProj = GenerateUnsafeProjection.generate(Seq(wExpr))
    val row = InternalRow(
      UTF8String.fromString("the quick brown fox jumps over the lazy dog"))
    assert(wProj(row).getArray(0).toLongArray.toSeq ===
      wExpr.eval(row).asInstanceOf[ArrayData].toLongArray.toSeq)

    val hExpr = WordSetHits(
      BoundReference(0, ArrayType(StringType), nullable = true), Seq("the", "fox"))
    assert(!hExpr.isInstanceOf[CodegenFallback])
    val hProj = GenerateUnsafeProjection.generate(Seq(hExpr))
    val hRow = InternalRow(new GenericArrayData(Array[Any](
      UTF8String.fromString("the"), UTF8String.fromString("cat"),
      UTF8String.fromString("the"))))
    assert(hProj(hRow).getLong(0) === 2L)
    assert(hProj(hRow).getLong(0) === hExpr.eval(hRow))

    // WordNgrams joined the codegen set (it was the one CodegenFallback
    // left in the family)
    val nExpr = WordNgrams(
      BoundReference(0, ArrayType(StringType), nullable = true), 2)
    assert(!nExpr.isInstanceOf[CodegenFallback])
    val nProj = GenerateUnsafeProjection.generate(Seq(nExpr))
    val nRow = InternalRow(new GenericArrayData(Array[Any](
      UTF8String.fromString("a"), UTF8String.fromString("b"),
      UTF8String.fromString("a"), UTF8String.fromString("b"))))
    val got = nProj(nRow).getArray(0)
    assert((0 until got.numElements()).map(got.getUTF8String(_).toString)
      === Seq("a b", "b a"))
  }

  test("dot64 NULL laws: mismatched lengths and null elements yield NULL") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{array, lit}
    // mismatched lengths: the documented zip_with equivalent returns NULL
    val mism = spark.range(1).select(graft.sim.Dot64.dot64(
      array(lit(1.0), lit(2.0)), array(lit(3.0)))).first()
    assert(mism.isNullAt(0), "length mismatch must be NULL, not truncation")
    // a null element poisons the product, like null arithmetic everywhere
    val withNull = Seq((Seq[java.lang.Double](1.0, null), Seq(2.0, 3.0)))
      .toDF("a", "b")
      .select(graft.sim.Dot64.dot64($"a", $"b")).first()
    assert(withNull.isNullAt(0), "null element must be NULL, not 0.0")
    // equal-length non-null arrays are unchanged
    val ok = spark.range(1).select(graft.sim.Dot64.dot64(
      array(lit(1.0), lit(2.0)), array(lit(3.0), lit(4.0)))).first()
    assert(ok.getDouble(0) === 11.0)
  }

  test("custom expressions reject wrong-typed input at analysis time") {
    import org.apache.spark.sql.functions.col
    val e = intercept[Exception] {
      spark.range(1).select(
        graft.hash.Fnv1a32.fnv1a32(col("id"))).collect()
    }
    assert(e.getMessage.contains("fnv1a32") ||
      e.getMessage.toLowerCase.contains("data type mismatch"), e.getMessage)
  }

  test("Dot64 ≡ aggregate(zip_with(*, +)) bit-for-bit on random vectors") {
    val rnd = new Random(11)
    val vecs = (0 until 50).map { _ =>
      ((0 until 64).map(_ => rnd.nextFloat() - 0.5f),
        (0 until 64).map(_ => rnd.nextFloat() - 0.5f))
    }
    val df = vecs.toDF("a", "b").select(
      Dot64.dot64(col("a"), col("b")).as("fast"),
      aggregate(zip_with(col("a"), col("b"),
        (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v).as("ref"),
      col("a"), col("b"))
    val rows = df.collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
      // the scalar kernel, on every element-type pairing it offers
      val (a, b) = (r.getSeq[Float](2).toArray, r.getSeq[Float](3).toArray)
      for (scalar <- Seq(Dot64.dot(a, b), Dot64.dot(a, b.map(_.toDouble)),
          Dot64.dot(a.map(_.toDouble), b.map(_.toDouble))))
        assert(java.lang.Double.doubleToLongBits(scalar) ===
          java.lang.Double.doubleToLongBits(r.getDouble(0)))
    }
  }
}
