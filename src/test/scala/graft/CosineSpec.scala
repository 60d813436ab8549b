package graft

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** The native codegen'd cosine expression: correctness vs the
  * higher-order-function formulation, null/mismatch semantics, SQL
  * registration, and mixed float/double element types.
  */
class CosineSpec extends SparkSpec {

  private def hofCosine = expr(
    """aggregate(zip_with(a, b, (x, y) -> double(x) * double(y)), 0.0D, (s, x) -> s + x)
      |/ (sqrt(aggregate(zip_with(a, a, (x, y) -> double(x) * double(y)), 0.0D, (s, x) -> s + x))
      |   * sqrt(aggregate(zip_with(b, b, (x, y) -> double(x) * double(y)), 0.0D, (s, x) -> s + x)))
      |""".stripMargin.replaceAll("\n", " "))

  test("matches the zip_with/aggregate double fold bit-for-bit") {
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(7)
    import spark.implicits._
    val df = (1 to 50)
      .map(_ => (Array.fill(64)(rnd.nextFloat() - 0.5f), Array.fill(64)(rnd.nextFloat() - 0.5f)))
      .toDF("a", "b")
    val out = df.select(
      call_function("cosine_sim", col("a"), col("b")).as("native"),
      hofCosine.as("hof")).collect()
    out.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("identical vectors give 1.0; orthogonal give 0.0") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f)),
      (Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f))).toDF("a", "b")
    val r = df.select(round(call_function("cosine_sim", col("a"), col("b")), 9)).collect()
    assert(r(0).getDouble(0) === 1.0)
    assert(r(1).getDouble(0) === 0.0)
  }

  test("NULL input and length mismatch give NULL") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq(
      (Some(Array(1.0f, 2.0f)), Some(Array(1.0f))), // mismatch
      (None, Some(Array(1.0f, 2.0f)))) // null side
      .toDF("a", "b")
    val r = df.select(call_function("cosine_sim", col("a"), col("b"))).collect()
    assert(r(0).isNullAt(0))
    assert(r(1).isNullAt(0))
  }

  test("mixed float/double element types work (query vs centroid shape)") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f), Array(2.0, 4.0))).toDF("a", "b")
    val r = df.select(round(call_function("cosine_sim", col("a"), col("b")), 9)).head()
    assert(r.getDouble(0) === 1.0)
  }

  test("GraftExtensions injects cosine_sim into a fresh session") {
    import org.apache.spark.sql.SparkSession
    // getOrCreate would return the suite's session and silently skip the
    // extensions; clear the default so a NEW session (sharing the
    // context) is built with them, then restore.
    val prev = spark
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      assert(s2 ne prev) // genuinely fresh session state
      val r = s2.sql("SELECT cosine_sim(array(3.0D, 4.0D), array(3.0D, 4.0D)) AS c").head()
      assert(r.getDouble(0) === 1.0)
      // The aggregate rides the same injection path.
      val t = s2.sql(
        "SELECT topk_pairs(s, id, 2) AS top FROM VALUES (1.0D, 1L), (3.0D, 2L), (2.0D, 3L) AS v(s, id)")
        .head().getSeq[org.apache.spark.sql.Row](0).map(p => (p.getDouble(0), p.getLong(1)))
      assert(t === Seq((3.0, 2L), (2.0, 3L)))
      // The suite session must NOT have gained the function (isolation).
      assert(prev.sessionState.functionRegistry ne s2.sessionState.functionRegistry)
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  test("GraftFunctions.register registers once per session: a second call replaces nothing") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val registry = spark.sessionState.functionRegistry
    val warnings = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val appender = new AbstractAppender("graft-register-spec", null, null, true,
        Array.empty[org.apache.logging.log4j.core.config.Property]) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("replaced a previously registered function")) warnings.add(m)
      }
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(appender)
    def builder(n: String) = registry.lookupFunctionBuilder(FunctionIdentifier(n)).get
    try {
      // A missing function makes the next call register them all again:
      // that replaces the other functions and the warnings are seen.
      GraftFunctions.register(spark)
      registry.dropFunction(FunctionIdentifier("simhash_bands"))
      GraftFunctions.register(spark)
      assert(registry.functionExists(FunctionIdentifier("simhash_bands")))
      assert(!warnings.isEmpty)
      warnings.clear()
      val before = GraftFunctions.names.map(builder)
      GraftFunctions.register(spark)
      val after = GraftFunctions.names.map(builder)
      assert(before.zip(after).forall { case (a, b) => a eq b })
      assert(warnings.isEmpty, warnings)
    } finally {
      root.removeAppender(appender)
      appender.stop()
    }
  }

  test("usable from SQL text after registration") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c").head()
    assert(r.getDouble(0) === 1.0)
  }
}
