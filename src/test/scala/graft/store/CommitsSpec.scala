package graft.store

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.{SparkSpec, StorageException, StoreConfig}
import graft.embed.HashEmbedder
import graft.streaming.StreamingOps

/** A local filesystem under the `failrename` scheme whose rename of a
  * `.tmp` file reports failure — what HDFS returns for, e.g., an
  * existing destination or a missing parent. Every other rename (Spark's
  * output-committer moves) goes through, so only commit publishes fail. */
class FailingRenameFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("failrename:///")
  override def rename(src: Path, dst: Path): Boolean =
    !src.getName.endsWith(".tmp") && super.rename(src, dst)
  // The local statuses load permissions through java.io.File, which
  // accepts `file:` URIs only — hand out plain statuses instead.
  override def getFileStatus(f: Path): FileStatus = plain(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(plain)
  private def plain(s: FileStatus) = new FileStatus(s.getLen, s.isDirectory,
    s.getReplication, s.getBlockSize, s.getModificationTime, s.getPath)
}

class CommitsSpec extends SparkSpec {

  private val emb = HashEmbedder(dim = 16)
  private def tmpDir(prefix: String) = Files.createTempDirectory(prefix).toString
  private def failingPath(prefix: String): String = failing(tmpDir(prefix))
  /** The local path `dir` seen through the failing-rename filesystem. */
  private def failing(dir: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.failrename.impl", classOf[FailingRenameFs].getName)
    s"failrename://$dir"
  }

  test("the highest published commit wins; temp files stay invisible; prune keeps the cutoff") {
    val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val dir = new Path(tmpDir("graft-commits"), "_commits")
    assert(Commits.latest(fs, dir, "c_").isEmpty)
    Commits.publish(fs, dir, "c_", 0L, "zero")
    Commits.publish(fs, dir, "c_", 1L, "one")
    // A crash between create and rename of commit 2.
    fs.create(new Path(dir, ".c_2.tmp")).close()
    assert(Commits.latest(fs, dir, "c_").contains(1L -> "one"))
    Commits.prune(fs, dir, "c_", below = 1L)
    assert(Commits.list(fs, dir, "c_") == Seq(1L))
    assert(!fs.exists(new Path(dir, ".c_2.tmp")))
  }

  test("publishing an already-published commit number raises and keeps the first content") {
    // the local file system a plain path resolves to, as a store uses it
    val root = tmpDir("graft-commits-twice")
    val dir = new Path(root, "_commits")
    val fs = Commits.fsFor(spark, root)
    Commits.publish(fs, dir, "c_", 0L, "first")
    val e = intercept[StorageException](Commits.publish(fs, dir, "c_", 0L, "second"))
    assert(e.getMessage.contains("c_0"), e.getMessage)
    assert(Commits.latest(fs, dir, "c_").contains(0L -> "first"))
    assert(Commits.list(fs, dir, "c_") == Seq(0L))
  }

  test("a duplicate commit number is refused on RawLocalFileSystem, whose plain rename replaces") {
    val fs = new RawLocalFileSystem
    fs.initialize(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    val root = tmpDir("graft-commits-raw")
    // the hazard: this file system's rename replaces an existing file
    Seq("a" -> "1", "b" -> "22").foreach { case (name, body) =>
      val out = fs.create(new Path(root, name)); out.write(body.getBytes("UTF-8")); out.close()
    }
    assert(fs.rename(new Path(root, "a"), new Path(root, "b")))
    assert(fs.getFileStatus(new Path(root, "b")).getLen == 1L)
    val dir = new Path(root, "_commits")
    Commits.publish(fs, dir, "c_", 0L, "first")
    val e = intercept[StorageException](Commits.publish(fs, dir, "c_", 0L, "second"))
    assert(e.getMessage.contains("c_0"), e.getMessage)
    assert(Commits.latest(fs, dir, "c_").contains(0L -> "first"))
  }

  test("a store manifest publish whose rename fails raises, naming both paths") {
    val path = s"${failingPath("graft-failrename-store")}/store"
    val e = intercept[StorageException] {
      DocumentStore.fromTexts(spark, path, Seq("a", "b"), Nil, StoreConfig(), emb)
    }
    assert(e.getMessage.contains("_commits/.manifest_0.tmp") &&
      e.getMessage.contains("_commits/manifest_0"), e.getMessage)
    assert(DocumentStore.readManifest(spark, path).isEmpty)
  }

  test("the manifest round-trips every field; malformed or incomplete content raises") {
    val m = graft.StoreManifest(3L, 16, "cosine", 42L, 4, lexicalFor = Some(42L),
      pqFor = Some(40L), pqRotated = true,
      curves = Map("nprobe" -> Seq(graft.TuningPoint(1, 0.5, 0.25, chosen = true))),
      tuned = Map("pq" -> graft.TuningParams(2L, 0.9, 5, 6, 42L, Seq(2, 4))))
    assert(DocumentStore.parseManifest(DocumentStore.renderManifest(m)) == m)
    val missing = DocumentStore.renderManifest(m).replace(""""pq_rotated":true,""", "")
    Seq("""{"ver""", missing).foreach { bad =>
      val e = intercept[StorageException](DocumentStore.parseManifest(bad))
      assert(e.getMessage.contains(bad), e.getMessage)
    }
  }

  test("a derived-index build whose manifest publish fails leaves no entry") {
    val dir = s"${tmpDir("graft-failrename-index")}/store"
    val docs = (0 until 40).map(i => s"derived index doc $i about topic ${i % 4}")
    DocumentStore.fromTexts(spark, dir, docs, Nil, StoreConfig(), emb)
    val store = DocumentStore.load(spark, failing(dir), emb)
    def reopened() = DocumentStore.load(spark, dir, emb)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSeq
    def raisesNamingCommit(build: => Unit): Unit = {
      val e = intercept[StorageException](build)
      assert(e.getMessage.contains("_commits/.manifest_") &&
        e.getMessage.contains("_commits/manifest_"), e.getMessage)
    }
    val terms = Seq("topic", "doc")
    val scanHits = rows(reopened().searchLexical(terms, k = 5))
    raisesNamingCommit(store.buildLexicalIndex())
    assert(DocumentStore.readManifest(spark, dir).exists(_.lexicalFor.isEmpty))
    assert(rows(reopened().searchLexical(terms, k = 5)) == scanHits)
    raisesNamingCommit(store.buildPqIndex(m = 8, ksub = 4))
    assert(DocumentStore.readManifest(spark, dir).exists(_.pqFor.isEmpty))
    val fresh = reopened()
    assert(rows(fresh.similaritySearchPq("topic 2 doc", k = 3, candidates = 3)) ==
      rows(fresh.similaritySearch("topic 2 doc", k = 3)))
  }

  test("a CDC pointer publish whose rename fails raises, and readers see no table") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val table = s"${failingPath("graft-failrename-cdc")}/table"
    val input = MemoryStream[(Long, String, String)]
    val q = StreamingOps.cdcApplyStream(input.toDF().toDF("k", "name", "op"),
      table, Seq("k"), s"${tmpDir("graft-failrename-ckpt")}/ckpt")
    try {
      input.addData((1L, "one", "insert"))
      val e = intercept[StreamingQueryException] { q.processAllAvailable() }
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists(c => c.isInstanceOf[StorageException] &&
        c.getMessage.contains("_commits/pointer_0")), e.toString)
      assert(StreamingOps.cdcTable(spark, table).isEmpty)
    } finally q.stop()
  }
}
