package graft

import graft.sources.{CommitProfiler, VersionedTable}

/** Bench's profile record: one body under the profiler yields the Spark
  * counts `jobsDuring` sees, the commit phases the commit path names,
  * and a hottest stage, and leaves the commit profiler off. */
class BenchProfileSpec extends SparkSpec {
  import spark.implicits._

  test("profile records a commit's jobs, executions, stages and phases") {
    val root = java.nio.file.Files.createTempDirectory("graft_profile").toString + "/t"
    // a literal only this run uses lands in the generated source, so the
    // body holds at least one query shape the codegen cache has not seen
    val fresh = System.nanoTime() % 1000003L + 2L
    val (rec, jobs) = jobsDuring {
      Bench.profile(spark) {
        VersionedTable.commit((1L to 200L).map(i => (i, s"r$i")).toDF("id", "x"), root)
        VersionedTable.read(spark, root).groupBy($"x").count().collect()
        spark.range(0, 10).selectExpr(s"id * $fresh AS y").collect()
      }
    }
    assert(rec("spark.jobs") == jobs)
    assert(jobs > 0)
    assert(rec("spark.sql_executions").asInstanceOf[Int] >= 1)
    assert(rec("wall_s").asInstanceOf[Double] > 0)
    // JIT time is a process-wide counter that never runs backwards
    assert(rec("codegen.compiles").asInstanceOf[Long] >= 1L)
    assert(rec("jvm.jit_s").asInstanceOf[Double] >= 0.0)

    val phases = rec("commit_phases").asInstanceOf[Map[String, Map[String, Any]]]
    assert(phases("commit_total")("hits") == 1L)
    assert(phases("data_write")("hits") == 1L)

    val hot = rec("hot_stage").asInstanceOf[Option[Map[String, Any]]].get
    assert(hot("max_s").asInstanceOf[Double] >= hot("median_s").asInstanceOf[Double])
    assert(rec("widest_sql").asInstanceOf[Seq[Map[String, Any]]].nonEmpty)
    assert(!CommitProfiler.enabled)
  }

  test("a body that compiles nothing new records no codegen compile") {
    val df = spark.range(0, 50).where($"id" % 7 === 0)
    df.collect() // compile once; the same plan then hits the codegen cache
    val rec = Bench.profile(spark)(df.collect())
    assert(rec("codegen.compiles") == 0L)
    assert(rec("jvm.jit_s").asInstanceOf[Double] >= 0.0)
  }

  test("the commit profiler is off again after a failing body") {
    intercept[IllegalStateException] {
      Bench.profile(spark)(throw new IllegalStateException("boom"))
    }
    assert(!CommitProfiler.enabled)
  }
}
