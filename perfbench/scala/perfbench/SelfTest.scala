package perfbench

import org.apache.spark.sql.SparkSession

/** Checks that the benchmark's listener attributes Spark work to the span
  * that submitted it: a known job inside a span, a job in a nested span,
  * and a job outside any span. Prints `selftest ok` or exits 1.
  *
  * Usage: SelfTest <workDir> */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val spark = Main.session(args(0))
    val t = new Tracer(spark.sparkContext)
    def check(ok: Boolean, what: String): Unit = if (!ok) {
      System.err.println(s"selftest FAILED: $what")
      sys.exit(1)
    }
    // a 3-partition range: one job of 3 tasks, all in span "outer"
    t.span("outer", 0) { s =>
      s.rows = spark.sparkContext.parallelize(1 to 300, 3).count()
      // a nested span takes the jobs submitted while it is open
      t.span("inner", 0)(_ => spark.sparkContext.parallelize(1 to 10, 2).count())
    }
    spark.sparkContext.parallelize(1 to 10, 5).count() // outside any span
    t.drain()
    val byName = t.spans.map(s => s.name -> s.id).toMap
    val work = t.workBySpan
    val outer = work(byName("outer"))
    val inner = work(byName("inner"))
    val none = work(0)
    check(outer.jobs == 1 && outer.tasks == 3, s"outer: ${outer.jobs} jobs ${outer.tasks} tasks")
    check(inner.jobs == 1 && inner.tasks == 2, s"inner: ${inner.jobs} jobs ${inner.tasks} tasks")
    check(none.jobs == 1 && none.tasks == 5, s"no span: ${none.jobs} jobs ${none.tasks} tasks")
    check(t.spans.find(_.name == "inner").get.parent == byName("outer"), "inner's parent")
    check(t.spans.find(_.name == "outer").get.rows == 300L, "outer's rows")
    spark.stop()
    println("selftest ok")
  }
}
