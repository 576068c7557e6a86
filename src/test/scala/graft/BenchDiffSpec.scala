package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench-noise classifier exists twice on purpose — inside Bench
  * (so every run self-adjudicates against the previous BENCH.json)
  * and as tools/bench_diff.py (so two arbitrary artifacts can be
  * diffed driver-side). This spec runs BOTH on the same worked
  * examples and requires identical verdicts, so the thresholds cannot
  * drift apart silently. */
class BenchDiffSpec extends AnyFunSuite {

  // 30 stable sub-second queries + 3 heavies: the shape of the real
  // registry (the classifier refuses under 20 common keys)
  private val base: Map[String, Double] =
    (1 to 30).map(i => f"q_small_$i%02d" -> 0.5).toMap ++
      Map("q_heavy_a" -> 5.0, "q_heavy_b" -> 4.0, "q_heavy_c" -> 3.0)

  private def pyVerdict(b: Map[String, Double], c: Map[String, Double]): String = {
    def js(m: Map[String, Double]) =
      m.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }
        .mkString("""{"queries":{""", ",", "}}")
    val dir = java.nio.file.Paths.get(TestSpark.tmpRoot("bdiff"))
    val fb = dir.resolve("b.json"); val fc = dir.resolve("c.json")
    java.nio.file.Files.write(fb, js(b).getBytes("UTF-8"))
    java.nio.file.Files.write(fc, js(c).getBytes("UTF-8"))
    val out = new StringBuilder
    val p = new ProcessBuilder("python3", "tools/bench_diff.py",
      fb.toString, fc.toString).redirectErrorStream(true).start()
    val src = scala.io.Source.fromInputStream(p.getInputStream)
    try out ++= src.mkString finally src.close()
    assert(p.waitFor() == 0, s"bench_diff.py failed:\n$out")
    """"verdict": "([a-z-]+)"""".r.findFirstMatchIn(out.toString)
      .map(_.group(1))
      .getOrElse(fail(s"no verdict in:\n$out"))
  }

  private def both(c: Map[String, Double]): (String, String) = {
    val scala = Bench.classifyNoise(base, c)
      .map(_._1).getOrElse(fail("classifier refused"))
    (scala, pyVerdict(base, c))
  }

  test("in-band: sub-floor jitter") {
    val c = base.map { case (k, v) => k -> (v + 0.01) }
    val (s, p) = both(c)
    assert(s == "in-band" && p == s, s"scala=$s python=$p")
  }

  test("uniform: broad small inflation, no explaining group") {
    val c = base.map { case (k, v) => k -> (v + 0.15) }
    val (s, p) = both(c)
    assert(s == "uniform" && p == s, s"scala=$s python=$p")
  }

  test("concentrated: two queries carry the whole gap") {
    val c = base + ("q_heavy_a" -> 8.0) + ("q_heavy_b" -> 6.5)
    val (s, p) = both(c)
    assert(s == "concentrated" && p == s, s"scala=$s python=$p")
  }

  test("mixed: half the gap in movers, half spread broad") {
    val c = base.map { case (k, v) => k -> (v + 0.08) } +
      ("q_heavy_a" -> 7.5)
    val (s, p) = both(c)
    assert(s == "mixed" && p == s, s"scala=$s python=$p")
  }

  test("refuses tiny key overlap (no verdict beats a junk verdict)") {
    assert(Bench.classifyNoise(
      Map("a" -> 1.0, "b" -> 2.0), Map("a" -> 9.0, "b" -> 9.0)).isEmpty)
  }

  test("python side refuses tiny key overlap too (lockstep with Scala)") {
    def js(m: Map[String, Double]) =
      m.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }
        .mkString("""{"queries":{""", ",", "}}")
    val dir = java.nio.file.Paths.get(TestSpark.tmpRoot("bdiff-refuse"))
    val fb = dir.resolve("b.json"); val fc = dir.resolve("c.json")
    java.nio.file.Files.write(fb,
      js(Map("a" -> 1.0, "b" -> 2.0)).getBytes("UTF-8"))
    java.nio.file.Files.write(fc,
      js(Map("a" -> 9.0, "b" -> 9.0)).getBytes("UTF-8"))
    val p = new ProcessBuilder("python3", "tools/bench_diff.py",
      fb.toString, fc.toString).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).mkString
    assert(p.waitFor() != 0, s"expected refusal exit, got:\n$out")
    assert(out.contains("refusing verdict"), s"unexpected refusal text:\n$out")
  }

  test("prev-BENCH parser survives err entries and escaped quotes") {
    // an err object mid-map used to truncate the flat-regex capture at
    // its closing brace (dropping q3/q4) and the escaped quotes inside
    // the err string could fake phantom "k":num pairs
    val txt = """{"metric":"total","queries":{"q1":1.5,""" +
      """"q2":{"err":"boom \"x\":9 {nested} end"},"q3":2.25,""" +
      """"q4":{"err":"twice{{"},"q5":0.75},"queue_bench":{"z":9.0}}"""
    assert(Bench.parsePrevQueries(txt) ==
      Map("q1" -> 1.5, "q3" -> 2.25, "q5" -> 0.75))
    // clean map: identical result to the old regex path
    val clean = """{"queries":{"a":1.0,"b":2.5}}"""
    assert(Bench.parsePrevQueries(clean) == Map("a" -> 1.0, "b" -> 2.5))
    // no queries object at all
    assert(Bench.parsePrevQueries("""{"metric":"total"}""").isEmpty)
  }
}
