package graft

import graft.functions.VectorExpressions.{dot_product, l2_norm}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class VectorExpressionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("dot product and norm match known values") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
    val r = df.select(
      dot_product(col("a"), col("b")).as("dot"),
      l2_norm(col("a")).as("na")).collect()(0)
    assert(r.getDouble(0) === 32.0)
    assert(math.abs(r.getDouble(1) - math.sqrt(14.0)) < 1e-12)
  }

  test("fused expressions are bit-identical to the higher-order-function form") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .limit(100)
    val both = emb.select(
      dot_product(col("v"), col("v")).as("fused"),
      expr("aggregate(zip_with(v, v, (x, y) -> x * y), 0D, (acc, w) -> acc + w)").as("hof"))
    assert(both.filter(col("fused") =!= col("hof")).count() === 0)
  }

  test("generated code compiles — no interpreted fallback") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.codegen.fallback", "false")
    val df = s2.range(10)
      .selectExpr("array(cast(id AS double), 2.0) AS a")
      .select(dot_product(col("a"), col("a")).as("d"), l2_norm(col("a")).as("n"))
    val rows = df.collect() // would throw on codegen compile failure
    assert(rows.length === 10)
    assert(rows.map(_.getDouble(0)).max === 81.0 + 4.0)
  }

  test("null input yields null, not a crash") {
    import spark.implicits._
    val df = Seq((Some(Seq(1.0)), Option.empty[Seq[Double]])).toDF("a", "b")
    val r = df.select(dot_product(col("a"), col("b"))).collect()(0)
    assert(r.isNullAt(0))
  }

  test("word_ngrams is identical to the higher-order-function shingle form") {
    import graft.functions.TextExpressions.word_ngrams
    import spark.implicits._
    // real corpus text plus the edge shapes: empty text (split -> [""]),
    // one word, exactly n words, n+1 words
    val docs = Tables.documents(spark, TestSpark.sf)
      .select(col("text")).limit(200)
      .unionByName(Seq("", "one", "a b c", "a b c d").toDF("text"))
    val both = docs
      .withColumn("tokens", split(lower(trim(col("text"))), "\\s+"))
      .select(
        word_ngrams(col("tokens"), 3).as("fused"),
        expr(
          """transform(array(tokens), ts ->
            |  transform(sequence(0, greatest(size(ts) - 3, 0)),
            |    i -> concat_ws(' ', slice(ts, i + 1, 3))))[0]""".stripMargin).as("hof"))
    assert(both.filter(col("fused") =!= col("hof")).count() === 0)
    assert(both.filter(col("fused").isNull =!= col("hof").isNull).count() === 0)
  }

  test("quantization kernels are bit-identical to the higher-order-function form") {
    import graft.functions.VectorExpressions.{abs_sum_longs, max_abs, quantize_round, sum_longs}
    import spark.implicits._
    // corpus vectors plus edge shapes: rounding ties (HALF_UP), exact
    // .5 boundaries, negatives, zero vector (scale floor), empty array
    val edges = Seq(
      Seq(0.5, 1.5, 2.5, -0.5, -1.5), Seq(0.49999999999999994, 126.5, -126.5),
      Seq(0.0, 0.0), Seq[Double]()).toDF("v")
    val corpus = Tables.embeddings(spark, TestSpark.sf)
      .select(col("embedding").cast("array<double>").as("v")).limit(300)
    val both = corpus.unionByName(edges)
      .withColumn("s_hof", expr("greatest(array_max(transform(v, x -> abs(x))) / 127.0d, 1e-30d)"))
      .withColumn("s_fused", greatest(max_abs(col("v")) / lit(127.0d), lit(1e-30d)))
      .withColumn("q_hof", expr("transform(v, x -> cast(round(x / s_hof) as bigint))"))
      .withColumn("q_fused", quantize_round(col("v"), col("s_fused")))
      .select(
        (col("s_hof") === col("s_fused")).as("s_ok"),
        (col("q_hof") === col("q_fused")).as("q_ok"),
        (expr("aggregate(q_hof, 0L, (a, x) -> a + x)") <=> sum_longs(col("q_fused"))).as("sum_ok"),
        (expr("aggregate(q_hof, 0L, (a, x) -> a + abs(x))") <=> abs_sum_longs(col("q_fused"))).as("l1_ok"))
    assert(both.filter(!col("s_ok") || !col("q_ok") || !col("sum_ok") || !col("l1_ok")).count() === 0)
  }

  test("word_ngrams generated code compiles — no interpreted fallback") {
    import graft.functions.TextExpressions.word_ngrams
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.codegen.fallback", "false")
    val rows = s2.range(5)
      .selectExpr("split(concat('w', id, ' x y z'), ' ') AS t")
      .select(word_ngrams(col("t"), 3).as("g"))
      .collect() // would throw on codegen compile failure
    assert(rows.length === 5)
    assert(rows.forall(_.getSeq[String](0).length === 2))
  }

  test("argmin_n equals the array_sort(struct) selection and stays codegen'd") {
    import graft.functions.VectorExpressions.argmin_n
    import org.apache.spark.sql.functions._
    // deterministic pseudo-random distance arrays with duplicates
    val df = spark.range(0, 500).selectExpr(
      """transform(sequence(0, 15), j ->
        | cast(conv(substr(md5(concat(cast(id as string), '_', cast(j as string))), 1, 6), 16, 10)
        |   as double) % 97) AS d""".stripMargin)
    val both = df
      .withColumn("hof", expr(
        "slice(transform(array_sort(transform(sequence(0, 15), j -> struct(d[j] as dist, j as idx))), p -> cast(p.idx as int)), 1, 4)"))
      .withColumn("fused", argmin_n(col("d"), 4))
    assert(both.filter(col("hof") =!= col("fused")).count() === 0,
      "fused selection must match the sort-based lambda form")
    // and it must compile under codegen with fallback disabled
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.codegen.fallback", "false")
    val rows = s2.range(3)
      .selectExpr("array(cast(id as double), 0.5d, -1.5d, 0.5d) AS d")
      .select(argmin_n(col("d"), 2).as("ix")).collect()
    assert(rows.length === 3)
    assert(rows.forall(_.getSeq[Int](0).length === 2))
  }

  test("ivf_pq_encode rejects a vector shorter than its codebooks") {
    import graft.functions.VectorExpressions
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    // 2 subspaces x 3 dims need 6 elements; the vector has 5
    val books = Array.fill(2)(Array(Array(0.0, 0.0, 0.0), Array(1.0, 1.0, 1.0)))
    val e = intercept[IllegalArgumentException](VectorExpressions.ivfPqEncode(
      new GenericArrayData(Array[Any](1.0, 2.0, 3.0, 4.0, 5.0)),
      Array(Array.fill(6)(0.0)), Array(0.0), books, books.map(_.map(_.map(x => x * x).sum)),
      subDim = 3, residual = false, withDist = false))
    assert(e.getMessage.contains("5") && e.getMessage.contains("6"), e.getMessage)
  }
}
