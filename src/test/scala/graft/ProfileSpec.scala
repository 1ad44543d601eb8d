package graft

import graft.Profile.Params

/** Drives [[Profile]]'s scenarios at reduced size on the shared session:
  * each emits its JSON line with its correctness checks true.
  */
class ProfileSpec extends SparkSpec {

  test("tera emits one point with checksum match and total order") {
    val lines = Profile.run(spark, "tera", Params(n = Seq(10000L)))
    assert(lines.size == 1)
    val line = lines.head
    assert(line.startsWith("""{"scenario":"tera","point":"tera","n":10000,"""))
    assert(line.contains(""""checksum_match":true"""))
    assert(line.contains(""""order_ok":true"""))
    assert(line.endsWith(""""ok":true}"""))
  }

  test("cmeans finds the 10 planted clusters") {
    val lines = Profile.run(spark, "cmeans", Params(n = Seq(3000L)))
    assert(lines.size == 1)
    assert(lines.head.contains(""""n":3000,"d":100,"iters":10,"""))
    assert(lines.head.contains(""""clusters":10,"clusters_ok":true,"ok":true}"""))
  }

  test("index_maintenance reports each pass's commits: one per index table") {
    val lines = Profile.run(spark, "index_maintenance", Params(n = Seq(2L)))
    val passes = lines.filter(_.contains(""""pass":"""))
    assert(passes.size == 2)
    passes.foreach(l => assert(l.contains(""""commits":2,"""), l))
    // the Spark jobs each pass started, next to its commits
    passes.foreach(l => assert(""""jobs":([1-9][0-9]*),""".r
      .findFirstIn(l).isDefined, l))
    assert(lines.last.contains(""""confluent":true,"ok":true}"""))
  }

  test("an unknown scenario or argument fails and names the valid ones") {
    val e = intercept[IllegalArgumentException](
      Profile.run(spark, "terasort", Params()))
    Seq("cmeans", "dedup", "gemv", "index_maintenance", "manifest", "ops",
      "stream", "tera", "tera_files").foreach(s => assert(e.getMessage.contains(s)))
    assert(Params.parse(Seq("cores=2", "n=1,10", "only=pipe,graph")) ==
      Params(cores = 2, n = Seq(1L, 10L), only = Seq("pipe", "graph")))
    intercept[IllegalArgumentException](Params.parse(Seq("SCALE_N=10")))
  }
}
