package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Pins the loud-failure contract of the correctness dump: a throwing
  * query must surface as a nonzero failure count (main then exits 1 with
  * a FAILED n/total summary), never degrade into a silently-missing
  * parquet dir that only the driver's absence-check might notice. */
class VerifySpec extends SparkSpecBase {

  test("Verify.run reports throwing queries as failures, dumps the rest") {
    val out = java.nio.file.Files.createTempDirectory("verify_fail").toString
    val qs: Map[String, (SparkSession, String) => DataFrame] = Map(
      "ok_query" -> ((s, _) => s.range(3).toDF("n")),
      "broken_query" -> ((s, _) => s.read.parquet("/nonexistent/graft/path")))
    val failed = Verify.run(spark, sf, out, qs)
    assert(failed == Seq("broken_query"),
      s"exactly the throwing query must be reported, got $failed")
    assert(new java.io.File(s"$out/ok_query").exists(),
      "healthy queries must still dump")
    assert(!new java.io.File(s"$out/broken_query").exists())
    // and a fully-green map reports no failures
    assert(Verify.run(spark, sf, out, qs - "broken_query").isEmpty)
  }

  test("audit: Bench, Verify and EntrySmoke are the only mains in main code") {
    val root = new java.io.File("src/main/scala").toPath
    assert(Files.isDirectory(root), s"run from the repository root ($root)")
    val Obj = """.*\bobject\s+(\w+).*""".r
    val mains = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { f =>
        val code = Files.readAllLines(f).asScala.map(_.trim).filterNot(l =>
          l.startsWith("*") || l.startsWith("/*") || l.startsWith("//"))
        code.indices.filter(code(_).contains("def main(")).map { i =>
          code.take(i).reverseIterator.collectFirst { case Obj(n) => n }
            .getOrElse(root.relativize(f).toString)
        }
      }
    assert(mains.sorted == Seq("Bench", "EntrySmoke", "Verify"),
      "measure through perfbench or a spec instead of a new main: " +
        mains.mkString(", "))
  }

  test("audit: every streaming object is named by other main code or perfbench") {
    // StateInspect is the one exception: the state-side inspector that
    // deployments call directly.
    def code(f: java.nio.file.Path): Seq[String] =
      Files.readAllLines(f).asScala.toSeq.map(_.replaceAll("//.*", ""))
        .filterNot { l =>
          val t = l.trim
          t.startsWith("*") || t.startsWith("/*")
        }
    def scalaFiles(dir: String): Seq[java.nio.file.Path] = {
      val root = new java.io.File(dir).toPath
      assert(Files.isDirectory(root), s"run from the repository root ($root)")
      Files.walk(root).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq
    }
    val main = scalaFiles("src/main/scala")
    val users = (main ++ scalaFiles("perfbench/src")).map(f => f -> code(f))
    val TopObj = """(?:private\s+|final\s+|case\s+)*object\s+(\w+)\b.*""".r
    val streaming = new java.io.File("src/main/scala/graft/streaming").toPath
    val objects = main.filter(_.startsWith(streaming))
      .flatMap(f => code(f).collect { case TopObj(n) => f -> n })
    val unreached = objects
      .filterNot { case (f, n) =>
        val named = s"\\b$n\\b".r
        n == "StateInspect" || users.exists { case (u, lines) =>
          u != f && lines.exists(named.findFirstIn(_).isDefined)
        }
      }
      .map(_._2)
    assert(unreached.isEmpty,
      "streaming objects no main code or perfbench names (delete them, " +
        "or wire them into an entry point): " + unreached.sorted.mkString(", "))
  }
}
