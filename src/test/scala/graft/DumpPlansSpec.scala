package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.DumpPlans

/** Regenerating named PLANS.md sections: the splice replaces exactly
  * the named sections and keeps every other byte, memo tail included.
  */
class DumpPlansSpec extends AnyFunSuite {
  private val header = "# PLANS — header\n\nGenerated over `sf`.\n"
  private def sec(name: String, plan: String) =
    DumpPlans.section(name, s"$plan\n")
  private val memo = DumpPlans.KeepMarker +
    " memo\n\n## C8_pk_pushdown\n\nhand-written, never replaced\n"
  private val prior = header +
    sec("q1_pricing_summary", "old q1") +
    sec("C8_pk_pushdown", "old c8") +
    sec("C24_reconcile_scan", "old c24") + memo

  test("splice replaces named sections and keeps every other byte") {
    val fresh = sec("C8_pk_pushdown", "new c8\nsecond line")
    val got = DumpPlans.splice(prior, Seq("C8_pk_pushdown" -> fresh))
    assert(got === header + sec("q1_pricing_summary", "old q1") + fresh +
      sec("C24_reconcile_scan", "old c24") + memo)
    // the last section before the memo tail, the tail's own
    // same-named heading untouched
    val last = sec("C24_reconcile_scan", "new c24")
    assert(DumpPlans.splice(prior, Seq("C24_reconcile_scan" -> last)) ===
      header + sec("q1_pricing_summary", "old q1") +
      sec("C8_pk_pushdown", "old c8") + last + memo)
    // replacing a section with its own text is the identity
    assert(DumpPlans.splice(prior,
      Seq("q1_pricing_summary" -> sec("q1_pricing_summary", "old q1"))) ===
      prior)
  }

  test("query lists refuse unknown, non-headline and missing names") {
    assert(DumpPlans.selected("C8_pk_pushdown, q1_pricing_summary") ===
      Seq("C8_pk_pushdown", "q1_pricing_summary"))
    val unknown = intercept[IllegalArgumentException](
      DumpPlans.selected("C8_pk_pushdown,no_such_query"))
    assert(unknown.getMessage.contains("unknown query no_such_query"))
    val notHeadline = Registry.all.map(_.name)
      .filterNot(DumpPlans.headline.contains).head
    val e = intercept[IllegalArgumentException](
      DumpPlans.selected(notHeadline))
    assert(e.getMessage.contains("is not a headline query"), e.getMessage)
    intercept[IllegalArgumentException](DumpPlans.selected(" , "))
    // a headline query with no section in the file is refused too
    val missing = intercept[IllegalArgumentException](
      DumpPlans.splice(prior, Seq("Q_AGG1_groupby" ->
        sec("Q_AGG1_groupby", "plan"))))
    assert(missing.getMessage.contains("no `## Q_AGG1_groupby` section"))
  }
}
