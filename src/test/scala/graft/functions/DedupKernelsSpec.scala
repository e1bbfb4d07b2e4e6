package graft.functions

import graft.SparkSpec
import graft.ops.{Dedup, Tables}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}

/** min_md5 and overlap_count must be drop-in replacements for the
  * composed forms they replace — `Dedup.minhashHofExpr` and
  * `size(array_intersect(a, b))` — since the dedup oracle SQL still
  * spells those out: any divergence is an oracle break.
  */
class DedupKernelsSpec extends SparkSpec {

  val dir = "/root/testdata/sf0.001"

  /** `run(df)` with codegen, then interpreted (NO_CODEGEN forces
    * nullSafeEval; plain wholeStage=false still uses expression-level
    * codegen); both must agree. The session is shared across suites:
    * prior conf values are restored. */
  private def bothPaths[T](run: => T): T = {
    val withCodegen = run
    val savedWs = spark.conf.getOption("spark.sql.codegen.wholeStage")
    val savedFm = spark.conf.getOption("spark.sql.codegen.factoryMode")
    val interpreted = try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      run
    } finally {
      savedWs.fold(spark.conf.unset("spark.sql.codegen.wholeStage"))(
        spark.conf.set("spark.sql.codegen.wholeStage", _))
      savedFm.fold(spark.conf.unset("spark.sql.codegen.factoryMode"))(
        spark.conf.set("spark.sql.codegen.factoryMode", _))
    }
    assert(withCodegen == interpreted)
    withCodegen
  }

  /** (a, b) string arrays in an RDD-backed frame: a local relation
    * would be folded on the driver and never reach generated code. */
  private def pairs(rows: Seq[(Seq[String], Seq[String])]): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", org.apache.spark.sql.types.IntegerType),
      StructField("a", ArrayType(StringType, containsNull = true)),
      StructField("b", ArrayType(StringType, containsNull = true))))
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.zipWithIndex.map { case ((a, b), i) => Row(i, a, b) }, 2), schema)
  }

  private val bigSide = (1 to 2000).map(i => s"w$i")

  private val edgeCases: Seq[(Seq[String], Seq[String])] = Seq(
    (Seq(), Seq()),                                    // both empty
    (Seq(), Seq("x")),                                 // one empty
    (null, Seq("x")),                                  // null array
    (Seq("x"), null),
    (null, null),
    (Seq("a", null), Seq("a")),                        // null on one side
    (Seq("a", null), Seq(null, "b", "a")),             // null on both
    (Seq(null, null), Seq(null)),                      // only nulls
    (Seq("a", "a", "b"), Seq("a")),                    // dups on the left
    (Seq("a"), Seq("a", "a", "a")),                    // dups on the right
    (Seq("a", "a", "b", "b"), Seq("b", "b", "a", "c")), // dups on both
    (Seq("héllo wörld x", "日本 語 テキスト", "İ i̇ ı", "ß"),
      Seq("日本 語 テキスト", "hello world x", "İ i̇ ı", "ss")), // non-ASCII
    (bigSide, Seq("w7", "w1999", "zz", "w7")),         // very different lengths
    (Seq("zz", "w2000"), bigSide))

  test("min_md5 equals the composed minhash on the whole corpus, every seed") {
    WordShingles.register(spark)
    DedupKernels.register(spark)
    val rows = Tables(spark, dir, "documents")
      .withColumn("shingles", expr("word_shingles(text, 3)"))
      .select(col("doc_id") +: (0 until 4).flatMap(k => Seq(
        expr(Dedup.minhashHofExpr(k)).as(s"expected$k"),
        expr(Dedup.minhashExpr(k)).as(s"actual$k"))): _*)
      .collect()
    assert(rows.length > 100)
    assert(rows.count(!_.isNullAt(1)) > 100)
    rows.foreach { r =>
      (0 until 4).foreach { k =>
        assert(r.get(1 + 2 * k) == r.get(2 + 2 * k), s"doc ${r.get(0)} seed $k")
      }
    }
  }

  test("overlap_count equals size(array_intersect) over corpus shingle pairs") {
    WordShingles.register(spark)
    DedupKernels.register(spark)
    // every doc against its id block of five, planted near-copies
    // (id + 1,000,000) against their base documents
    val sh = Dedup.corpusWithNearDups(spark, dir)
      .select(col("doc_id"), expr("word_shingles(text, 3)").as("sh"),
        expr("(doc_id % 1000000) div 5").as("blk"))
    val rows = sh.as("x").join(sh.as("y"), "blk")
      .select(col("x.doc_id"), col("y.doc_id"),
        size(array_intersect(col("x.sh"), col("y.sh"))).as("expected"),
        expr("overlap_count(x.sh, y.sh)").as("actual"))
      .collect()
    assert(rows.length > 1000)
    assert(rows.exists(r => r.getLong(0) != r.getLong(1) && r.getInt(3) > 10))
    rows.foreach { r =>
      assert(r.getInt(2) == r.getInt(3), s"docs ${r.get(0)}, ${r.get(1)}")
    }
  }

  test("edge cases: empty, null arrays, null elements, duplicates, non-ASCII, lengths") {
    DedupKernels.register(spark)
    val rows = bothPaths(pairs(edgeCases).select(col("id"),
      expr("size(array_intersect(a, b))").as("size_ab"),
      expr("overlap_count(a, b)").as("ov_ab"),
      expr("overlap_count(b, a)").as("ov_ba"),
      expr("array_intersect(a, b) IS NULL").as("null_ab"),
      expr("array_min(transform(a, s -> md5(concat('seed1', s))))").as("hof_a"),
      expr("min_md5(a, 'seed1')").as("mm_a"),
      expr("array_min(transform(b, s -> md5(concat(CAST(NULL AS STRING), s))))")
        .as("hof_null_prefix"),
      expr("min_md5(b, CAST(NULL AS STRING))").as("mm_null_prefix"))
      .orderBy("id").collect().toSeq)
    assert(rows.length == edgeCases.length)
    rows.foreach { r =>
      val ((a, b), id) = (edgeCases(r.getInt(0)), r.getInt(0))
      if (r.getBoolean(4)) { // a null array: null, as the composed form
        assert(r.isNullAt(2) && r.isNullAt(3), s"case $id")
      } else {
        assert(!r.isNullAt(2), s"case $id")
        if (!r.isNullAt(1)) assert(r.getInt(1) == r.getInt(2), s"case $id")
        // the composed form's own count, independent of size()'s null rule
        assert(r.getInt(2) == r.getInt(3), s"case $id: not symmetric")
        val both = a.filter(_ != null).toSet.intersect(b.filter(_ != null).toSet)
        val nulls = if (a.contains(null) && b.contains(null)) 1 else 0
        assert(r.getInt(2) == both.size + nulls, s"case $id")
      }
      assert(r.get(5) == r.get(6), s"case $id: min_md5")
      assert(r.isNullAt(7) && r.isNullAt(8), s"case $id: null prefix")
    }
    // no non-null element -> null, like array_min over an empty array
    Seq(0, 1, 7).foreach(i => assert(rows(i).isNullAt(6), s"case $i"))
    assert(!rows(5).isNullAt(6) && rows(5).getString(6).length == 32)
  }

  test("rejects non-string arrays and wrong arity") {
    DedupKernels.register(spark)
    val df = spark.range(1).select(array(lit(1)).as("ints"),
      array(lit("x")).as("strs"), lit("p").as("p"))
    Seq("min_md5(ints, p)", "min_md5(strs, strs)", "min_md5(strs)",
        "overlap_count(ints, strs)", "overlap_count(strs, p)",
        "overlap_count(strs)").foreach { e =>
      intercept[Exception](df.select(expr(e)).collect())
    }
  }
}
