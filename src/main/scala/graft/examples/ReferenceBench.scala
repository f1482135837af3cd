package graft.examples

import graft.StoreConfig
import graft.embed.HashEmbedder
import graft.store.DocumentStore

/** Microbenchmark replicating the REFERENCE's benchmark shape
  * (reference tests/test_vectorstore_benchmark.py + BENCHMARKING.md:
  * add batches of 10/100/1000; search k in {1,5,10,20} over a 100-doc
  * store, 10 queries/round; index scaling 50-500 docs; embedding dims
  * 128/256/384/512 at 50 docs), with the same deterministic
  * sha-seeded embedding idea (conftest.py:89-111, dim 384 default).
  * The reference publishes no absolute numbers (BASELINE.md) — this
  * makes ours structurally comparable anyway.
  *
  * Run: sbt "runMain graft.examples.ReferenceBench"; one JSON line out.
  */
object ReferenceBench {
  def main(args: Array[String]): Unit = {
    // Eight shuffle partitions whatever SPARK_GRAFT_CPUS says.
    val spark = graft.MainUtil.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
      .appName("graft-refbench").config("spark.sql.shuffle.partitions", "8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def texts(n: Int): Seq[String] =
      (0 until n).map(i => s"benchmark document $i " + ((i * 2654435761L) % 997))
    def tmp(): String =
      java.nio.file.Files.createTempDirectory("graft-refbench").toString + "/s"
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    val emb384 = HashEmbedder(384)
    // warmup
    DocumentStore.fromTexts(spark, tmp(), texts(10), Nil, StoreConfig(), emb384)
      .similaritySearch("warmup", 1).count()

    val addTimes = Seq(10, 100, 1000).map { n =>
      s"add_$n" -> time {
        DocumentStore.fromTexts(spark, tmp(), texts(n), Nil, StoreConfig(), emb384)
      }
    }

    val store100 = DocumentStore.fromTexts(spark, tmp(), texts(100), Nil,
      StoreConfig(), emb384)
    val searchTimes = Seq(1, 5, 10, 20).map { k =>
      s"search_k$k" -> time {
        (0 until 10).foreach(i => store100.similaritySearch(s"query $i", k).count())
      }
    }
    val batchTime = Seq("search_batch10_k5" -> time {
      store100.similaritySearchBatch((0 until 10).map(i => s"query $i"), 5).count()
    })

    val scaleTimes = Seq(50, 100, 200, 500).map { n =>
      val st = DocumentStore.fromTexts(spark, tmp(), texts(n), Nil, StoreConfig(), emb384)
      s"searchstore_$n" -> time {
        (0 until 5).foreach(i => st.similaritySearch(s"scale query $i", 10).count())
      }
    }

    val dimTimes = Seq(128, 256, 384, 512).map { d =>
      s"dim_$d" -> time {
        DocumentStore.fromTexts(spark, tmp(), texts(50), Nil, StoreConfig(),
          HashEmbedder(d)).similaritySearch("dim probe", 5).count()
      }
    }

    val all = addTimes ++ searchTimes ++ batchTime ++ scaleTimes ++ dimTimes
    // Locale.ROOT: the f-interpolator formats under the DEFAULT locale,
    // and a comma decimal separator (de_DE, tr_TR, …) would make this
    // JSON line unparseable.
    val qs = all.map { case (k, v) =>
      "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.3f",
        Double.box(v)) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"reference_shape","unit":"sec","results":$qs}""")
    spark.stop()
  }
}
