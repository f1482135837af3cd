package graft.examples

import java.nio.file.Files

import graft.{JobProbe, SparkEntry, SparkSpec}

class ProfileSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("a query item reports its row count and its band-gate jobs") {
    val Seq(run) = Profile.profile(spark, dir, "q_text_gate", warm = 0, runs = 1)
    assert(run.rows == SparkEntry.queries("q_text_gate")(spark, dir).count())
    assert(run.jobs.nonEmpty && run.seconds > 0 && run.canary > 0)
    assert(run.jobs.exists(_.label.startsWith("band gate b1:")),
      run.jobs.map(_.label).mkString("\n"))
  }

  test("a .sql item reports the row count of the same SQL") {
    val file = Files.createTempFile("profile", ".sql")
    Files.writeString(file, "SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang")
    val runs = Profile.profile(spark, dir, file.toString, warm = 1, runs = 2)
    val langs = spark.read.parquet(s"$dir/documents.parquet").select("lang").distinct().count()
    assert(runs.map(r => (r.run, r.rows)) == Seq((1, langs), (2, langs)))
    Files.delete(file)
  }

  test("an unknown item raises before anything runs") {
    intercept[IllegalArgumentException](Profile.profile(spark, dir, "q_no_such_query", 0, 1))
  }

  test("JobProbe reports a job's description, stages and tasks") {
    val sc = spark.sparkContext
    val (n, jobs) = JobProbe.record(spark) {
      sc.setJobDescription("profile spec job")
      try spark.range(0, 1000, 1, 3).count() finally sc.setJobDescription(null)
    }
    assert(n == 1000)
    val job = jobs.find(_.description == "profile spec job")
    assert(job.exists(j => j.label == j.description && j.stages >= 1 && j.tasks >= 1 &&
      j.seconds >= 0), jobs)
  }
}
