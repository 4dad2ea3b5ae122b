package graft

import graft.sources.{CommitProfiler, VersionedTable}

/** Bench's profile record: one body under the profiler yields the Spark
  * counts `jobsDuring` sees, the commit phases the commit path names,
  * and a hottest stage, and leaves the commit profiler off. */
class BenchProfileSpec extends SparkSpec {
  import spark.implicits._

  test("profile records a commit's jobs, executions, stages and phases") {
    val root = java.nio.file.Files.createTempDirectory("graft_profile").toString + "/t"
    val (rec, jobs) = jobsDuring {
      Bench.profile(spark) {
        VersionedTable.commit((1L to 200L).map(i => (i, s"r$i")).toDF("id", "x"), root)
        VersionedTable.read(spark, root).groupBy($"x").count().collect()
      }
    }
    assert(rec("spark.jobs") == jobs)
    assert(jobs > 0)
    assert(rec("spark.sql_executions").asInstanceOf[Int] >= 1)
    assert(rec("wall_s").asInstanceOf[Double] > 0)

    val phases = rec("commit_phases").asInstanceOf[Map[String, Map[String, Any]]]
    assert(phases("commit_total")("hits") == 1L)
    assert(phases("data_write")("hits") == 1L)

    val hot = rec("hot_stage").asInstanceOf[Option[Map[String, Any]]].get
    assert(hot("max_s").asInstanceOf[Double] >= hot("median_s").asInstanceOf[Double])
    assert(rec("widest_sql").asInstanceOf[Seq[Map[String, Any]]].nonEmpty)
    assert(!CommitProfiler.enabled)
  }

  test("the commit profiler is off again after a failing body") {
    intercept[IllegalStateException] {
      Bench.profile(spark)(throw new IllegalStateException("boom"))
    }
    assert(!CommitProfiler.enabled)
  }
}
