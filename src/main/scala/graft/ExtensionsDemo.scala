package graft

/** Standalone proof that `spark.sql.extensions=graft.GraftExtensions` wires
  * vec_dot into a fresh session for pure-SQL users (run via tools/run.sh —
  * needs its own JVM because extensions apply at session creation).
  */
object ExtensionsDemo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(2)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val row = spark.sql(
      "SELECT vec_dot(array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(0.5 AS FLOAT))) AS d").head()
    println(s"vec_dot via SQL extension = ${row.getDouble(0)} (expect 5.5)")
    assert(row.getDouble(0) == 5.5)
    val ng = spark.sql(
      "SELECT token_ngrams(array('a','b','c'), 2) AS t, char_ngrams('abc', 2) AS c").head()
    println(s"token_ngrams = ${ng.getSeq[String](0)}, char_ngrams = ${ng.getSeq[String](1)}")
    assert(ng.getSeq[String](0) == Seq("a b", "b c"))
    assert(ng.getSeq[String](1) == Seq("ab", "bc"))
    // the injected optimizer rule fuses the declarative fold into vec_dot
    // (input must be non-foldable, or ConstantFolding wins first — which
    // is also correct)
    spark.range(1, 4)
      .selectExpr("array(CAST(id AS FLOAT), CAST(id + 1 AS FLOAT)) AS v")
      .createOrReplaceTempView("vecs")
    val fold = spark.sql(
      """SELECT aggregate(
        |         zip_with(v, v, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
        |         CAST(0.0 AS DOUBLE), (acc, e) -> acc + e) AS d
        |FROM vecs ORDER BY d""".stripMargin)
    val optimized = fold.queryExecution.optimizedPlan.toString
    println(s"fold fused to vec_dot = ${optimized.contains("vec_dot")} (expect true)")
    assert(optimized.contains("vec_dot"), optimized)
    // 1^2+2^2=5, 2^2+3^2=13, 3^2+4^2=25
    assert(fold.collect().map(_.getDouble(0)).toSeq == Seq(5.0, 13.0, 25.0))
    spark.stop()
  }
}
