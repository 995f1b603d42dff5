package graft

/** `Bench <key>... [-x]` key mode: the timing loop runs over the named
  * keys only, and an unknown key fails before any timing starts.
  */
class BenchKeyModeSpec extends SparkSpec {

  test("runQueries over one key: exactly Reps samples for it, nothing else") {
    val (samples, errors) = Bench.runQueries(spark, sfDir, Bench.Reps, Seq("q01_scan"))
    assert(errors.isEmpty, errors)
    assert(samples.keySet == Set("q01_scan"))
    assert(samples("q01_scan").size == Bench.Reps)
    assert(samples("q01_scan").forall(_ > 0.0))
  }

  test("an unknown key is rejected with the valid key list") {
    Bench.requireKnown(Seq("q01_scan", "q13_agg"))
    val e = intercept[IllegalArgumentException](
      Bench.requireKnown(Seq("q01_scan", "q00_nope")))
    assert(e.getMessage.contains("unknown queries: q00_nope"), e.getMessage)
    assert(e.getMessage.contains("valid: ") &&
      SparkEntry.queries.keys.forall(e.getMessage.contains), e.getMessage)
  }
}
