package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the no-clobber degrade guard's ledger parse: the r15 incident
  * was a ledger reformatted by `json.dump(indent=1)` (`"n": 9`, space
  * after the colon) that the original tight regex read as n=0 — the
  * guard silently disarmed and a full n=3 run overwrote the committed
  * n=9 medians. Both JSON spacings must parse. */
class BenchGuardSpec extends AnyFunSuite {

  test("maxLedgerN reads compact and pretty-printed ledgers alike") {
    assert(Bench.maxLedgerN("""{"q_a":{"med":1.0,"n":9}}""") === 9)
    assert(Bench.maxLedgerN(
      """{
        | "q_a": {
        |  "med": 1.0,
        |  "n": 9
        | },
        | "q_b": {
        |  "med": 2.0,
        |  "n": 3
        | }
        |}""".stripMargin) === 9)
    assert(Bench.maxLedgerN("{}") === 0)
    // the max across rows decides, not the first
    assert(Bench.maxLedgerN(
      """{"q_a":{"n":3},"q_b":{"n": 9},"q_c":{"n":5}}""") === 9)
  }

  test("the committed ledger itself parses above the default 3 reps") {
    val p = java.nio.file.Paths.get("bench_medians.json")
    assume(java.nio.file.Files.exists(p))
    val body = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    // lower bound, not equality: a future deeper re-measure (n=12, …)
    // must not fail the suite — the guard arms on anything above the
    // default 3 reps (r15 advice fix)
    assert(Bench.maxLedgerN(body) >= 9,
      "the committed n>=9 ledger must arm the no-clobber guard")
  }

  test("errorRecord keeps the query, pass, exception class and first " +
      "message line as one JSON object") {
    val e = new IllegalStateException("bad \"plan\"\n\tat line two")
    val rec = graft.core.Json.parse(Bench.errorRecord("q_x", "rep2", e))
    assert(rec.isDefined)
    def field(k: String) = rec.flatMap(graft.core.Json.str(_, k))
    assert(field("query").contains("q_x"))
    assert(field("pass").contains("rep2"))
    assert(field("class").contains("java.lang.IllegalStateException"))
    assert(field("message").contains("bad \"plan\""))
    val noMessage = graft.core.Json.parse(
      Bench.errorRecord("q_y", "warmup", new RuntimeException()))
    assert(noMessage.flatMap(graft.core.Json.str(_, "message")).contains(""))
  }
}
