package graft.plans

import graft.core.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Own session (withExtensions) — deliberately not SparkSuite's session,
  * but on its context: a JVM has one SparkContext, so the suite's is made
  * first and this session's master is whatever that context runs. */
class GraftExtensionsSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = {
    graft.SparkSuite.session
    // getOrCreate returns any active session, ignoring withExtensions —
    // clear the handles so a NEW session (sharing the context) is built
    // with the extensions applied.
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    Sessions.local("graft-ext-test", cpus = 4)
      .withExtensions(new GraftExtensions).getOrCreate()
  }

  test("the extensions session shares the suite's local[4] context") {
    assert(spark.sparkContext eq graft.SparkSuite.session.sparkContext)
    assert(spark.sparkContext.master === "local[4]")
    assert(spark ne graft.SparkSuite.session)
  }

  test("dot_product and vec_norm usable from SQL") {
    val row = spark.sql(
      """SELECT dot_product(array(1.0F, 2.0F, 3.0F), array(4.0F, 5.0F, 6.0F)) AS d,
        |       vec_norm(array(3.0F, 4.0F)) AS n""".stripMargin).collect()(0)
    assert(row.getDouble(0) === 32.0)
    assert(row.getDouble(1) === 5.0)
  }

  test("word_kgrams usable from SQL; non-literal k rejected") {
    val grams = spark.sql(
      "SELECT word_kgrams(array('a','b','c','d'), 3) AS g").collect()(0)
      .getSeq[String](0)
    assert(grams === Seq("a b c", "b c d"))
    val err = intercept[Exception] {
      spark.sql("SELECT word_kgrams(array('a','b'), cast(rand()*2 as int))").collect()
    }
    assert(err.getMessage.contains("integer literal"))
  }

  test("bpe_merge usable from SQL; wrong arity and non-literal pair rejected") {
    val merged = spark.sql(
      "SELECT bpe_merge(array('a','b','a','b','c'), 'a', 'b') AS m").collect()(0)
      .getSeq[String](0)
    assert(merged === Seq("ab", "ab", "c"))
    val arity = intercept[Exception] {
      spark.sql("SELECT bpe_merge(array('a'), 'a')").collect()
    }
    assert(arity.getMessage.contains("3 arguments"))
    val lit = intercept[Exception] {
      spark.sql("SELECT bpe_merge(array('a','b'), concat('a',''), 'b')").collect()
    }
    assert(lit.getMessage.contains("string literals"))
    // null elements pass through unmerged (and the result type admits them)
    val withNull = spark.sql(
      "SELECT bpe_merge(array('a', CAST(NULL AS STRING), 'a', 'b'), 'a', 'b') AS m")
    assert(withNull.schema("m").dataType ===
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType, containsNull = true))
    assert(withNull.collect()(0).getSeq[String](0) === Seq("a", null, "ab"))
  }

  test("dot_product participates in codegen over a table") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 0.0f), Array(0.5f, 2.0f))).toDF("a", "b")
    df.createOrReplaceTempView("v")
    assert(spark.sql("SELECT dot_product(a, b) FROM v").collect()(0).getDouble(0) === 0.5)
  }

  test("optimizer rewrites composable aggregate/zip_with dot product to DotProduct") {
    import org.apache.spark.sql.functions._
    // non-foldable inputs, else ConvertToLocalRelation evaluates the whole
    // plan before the rewrite is observable
    val df = spark.range(1).select(
      array((col("id") + 1).cast("float"), (col("id") + 2).cast("float"),
        (col("id") + 3).cast("float")).as("a"),
      array((col("id") + 4).cast("float"), (col("id") + 5).cast("float"),
        (col("id") + 6).cast("float")).as("b"))
    val composable = df.select(
      aggregate(
        zip_with(transform(col("a"), _.cast("double")),
          transform(col("b"), _.cast("double")), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("d"))
    val optimized = composable.queryExecution.optimizedPlan
    assert(optimized.expressions.map(_.toString).exists(_.contains("DotProduct")) ||
      optimized.toString.contains("dotproduct"),
      s"rule did not fire:\n$optimized")
    assert(composable.collect()(0).getDouble(0) === 32.0)
  }
}
