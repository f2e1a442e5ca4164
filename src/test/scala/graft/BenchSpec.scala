package graft

import graft.queries.Q
import org.apache.spark.sql.functions.{col, udf}

class BenchSpec extends SparkSpec {

  test("a query that throws is reported failed and never timed") {
    val ok = Q("ok", (s, _) => s.range(3).toDF(), None)
    val boom = udf((id: Long) => { if (id >= 0) throw new IllegalStateException("boom"); true })
    val bad = Q("bad", (s, _) => s.range(3).toDF().where(boom(col("id"))), None)
    val report = Bench.run(spark, Seq(bad, ok), "unused", runs = 2)
    assert(report.failed.map(_._1) == Seq("bad"))
    assert(report.failed.head._2.contains("boom"), report.failed.head._2)
    assert(report.timed.map(_.name) == Seq("ok"))
    val timed = report.timed.head
    assert(timed.rows == 3L)
    assert(timed.samples.size == 2)
    assert(report.total == timed.best)
  }
}
