package graft

import org.scalatest.funsuite.AnyFunSuite

/** The three contracts every local main shares through [[Mains]]. */
class MainsSpec extends AnyFunSuite {

  test("jsonString round-trips every char 0x00-0x7F and non-ASCII text through a JSON parser") {
    import org.json4s.JString
    import org.json4s.jackson.JsonMethods.parse
    val inputs = (0 to 0x7f).map(_.toChar.toString) :+
      (0 to 0x7f).map(_.toChar).mkString :+
      "naïve — 東京 é  😀"
    inputs.foreach { s =>
      val line = s"""{"k":${Mains.jsonString(s)}}"""
      assert((parse(line) \ "k") == JString(s), s"line: $line")
    }
  }

  test("selectQueries: None is the full registry; names are trimmed; empty or unknown values throw") {
    assert(Mains.selectQueries(None).keySet == SparkEntry.queries.keySet)
    assert(Mains.selectQueries(
      Some(" a18_approx_percentile_drift , d44_leakage_safe_split ")).keySet ==
      Set("a18_approx_percentile_drift", "d44_leakage_safe_split"))
    intercept[IllegalArgumentException](Mains.selectQueries(Some("")))
    intercept[IllegalArgumentException](Mains.selectQueries(Some(" , ")))
    val unknown = intercept[IllegalArgumentException](
      Mains.selectQueries(Some("a18_approx_percentile_drift,nope")))
    assert(unknown.getMessage.contains("nope"))
  }

  test("SparkSession.builder appears in src/main only in Mains and MigrateMain") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main")
    assert(java.nio.file.Files.isDirectory(root), s"$root not found")
    val builders = scala.util.Using.resource(java.nio.file.Files.walk(root)) { paths =>
      paths.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(f => java.nio.file.Files.readString(f).contains("SparkSession.builder"))
        .map(f => root.relativize(f).toString)
        .toSet
    }
    assert(builders == Set("scala/graft/Mains.scala", "scala/graft/pipeline/MigrateMain.scala"),
      "a local main builds its session through graft.Mains.session " +
        "(only MigrateMain, the deploy CLI, keeps its own builder)")
  }
}
