package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_ONLY` parsing, shared by Verify and Bench: trimmed
  * names, empty ones dropped, and a loud failure on any unknown name or
  * on a value that names nothing.
  */
class OnlyQueriesSpec extends AnyFunSuite {

  private val known = Set("a", "b", "c")

  test("unset means every query") {
    assert(Verify.onlyQueries(None, known) === None)
  }

  test("names are trimmed and empty entries dropped") {
    assert(Verify.onlyQueries(Some(" a, b ,,c,"), known) === Some(Set("a", "b", "c")))
  }

  test("every unknown name is listed in the failure") {
    val e = intercept[IllegalArgumentException](
      Verify.onlyQueries(Some("a, bb, zz"), known))
    assert(e.getMessage.contains("bb, zz"), e.getMessage)
  }

  test("a value naming no query fails instead of selecting nothing") {
    intercept[IllegalArgumentException](Verify.onlyQueries(Some(" , "), known))
  }

  test("the default check is the registered query set") {
    assert(Verify.onlyQueries(Some("q1_agg, text_vocab_cjk")) ===
      Some(Set("q1_agg", "text_vocab_cjk")))
    intercept[IllegalArgumentException](Verify.onlyQueries(Some("text_vocab_ckj")))
  }
}
