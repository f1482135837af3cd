package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_CONF` parsing: a malformed entry fails loudly instead
  * of silently running the default config. */
class MainUtilSpec extends AnyFunSuite {

  test("a valid entry parses; empty entries are skipped") {
    assert(MainUtil.parseConf("spark.sql.shuffle.partitions=1") ==
      Seq("spark.sql.shuffle.partitions" -> "1"))
    assert(MainUtil.parseConf(" a.b = x=y ;c=;") == Seq("a.b" -> "x=y", "c" -> ""))
    assert(MainUtil.parseConf(";;").isEmpty)
  }

  test("a malformed entry raises and names it") {
    for (bad <- Seq("spark.sql.shuffle.partitions 1", "=5")) {
      val e = intercept[IllegalArgumentException](
        MainUtil.parseConf(s"spark.sql.ansi.enabled=false;$bad"))
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("every adversarial-battery regime parses to its key=value pairs") {
    val regime = """\s*\[(\w+)\]="([^"]*)"""".r
    val regimes = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("scripts/adversarial_battery.sh"),
        java.nio.charset.StandardCharsets.UTF_8).asScala
      .collect { case regime(tag, conf) => tag -> conf }.toList
    assert(regimes.map(_._1).contains("combined7") && regimes.map(_._1).contains("shuffle1"))
    regimes.foreach { case (tag, conf) =>
      val pairs = MainUtil.parseConf(conf)
      assert(pairs.nonEmpty && pairs.map { case (k, v) => s"$k=$v" }.mkString(";") == conf, tag)
    }
  }
}
