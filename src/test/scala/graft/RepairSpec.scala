package graft

import graft.model.SchemaParser
import graft.row.{Repair, RowValidator}
import org.apache.spark.sql.functions._

/** Schema-driven repair: clamp/truncate/quarantine policy + the one-pass
  * audit report, and the contract that repaired rows no longer violate any
  * REPAIRABLE keyword. */
class RepairSpec extends SparkSpec {
  import spark.implicits._

  private val schemaJson =
    """{
      "type": "object",
      "required": ["id", "n", "tag", "xs"],
      "properties": {
        "id": {"type": "string", "maxLength": 4},
        "n": {"type": "integer", "minimum": 0, "maximum": 10},
        "tag": {"enum": ["a", "b"], "default": "a"},
        "mode": {"enum": ["x", "y"]},
        "xs": {"type": "array", "maxItems": 3,
               "items": {"type": "integer", "minimum": 0, "maximum": 5}}
      }
    }"""

  private lazy val doc = SchemaParser.parse(schemaJson)

  private lazy val dirty = Seq(
    ("longid", 42L, "zzz", "bad", Seq(7, -1, 2, 9)), // every rule fires
    ("ok", 5L, "a", "x", Seq(1, 2))                  // nothing to repair
  ).toDF("id", "n", "tag", "mode", "xs")

  test("clamp, truncate, and quarantine produce the policy-exact row") {
    val (rep, _) = Repair.repair(dirty, doc)
    val r = rep.filter(col("id") === "long").collect()
    assert(r.length == 1)
    val row = rep.orderBy("n").collect()
    val bad = row.find(_.getLong(1) == 10L).get
    assert(bad.getString(0) == "long")        // maxLength 4 truncation
    assert(bad.getLong(1) == 10L)             // clamped to maximum
    assert(bad.getString(2) == "a")           // enum miss -> default
    assert(bad.getString(3) == null)          // enum miss, no default -> null
    assert(bad.getSeq[Int](4) == Seq(5, 0, 2)) // truncated to 3, elements clamped
    val good = row.find(_.getLong(1) == 5L).get
    assert(good.getString(0) == "ok" && good.getString(2) == "a" &&
      good.getString(3) == "x" && good.getSeq[Int](4) == Seq(1, 2))
  }

  test("report counts exactly the values each column needed") {
    val (_, report) = Repair.repair(dirty, doc)
    val counts = report.as[(String, Long)].collect().toMap
    assert(counts == Map("id" -> 1L, "n" -> 1L, "tag" -> 1L,
      "mode" -> 1L, "xs" -> 1L))
  }

  test("repaired rows carry no violations on repairable keywords") {
    val (rep, _) = Repair.repair(dirty, doc)
    val kws = RowValidator.violations(rep, doc, "id")
      .select("keyword").as[String].collect().toSet
    // 'mode' was quarantined to null and mode is not required -> no residue;
    // nothing else in this schema is unrepairable
    assert(kws.isEmpty, s"unexpected residual violations: $kws")
  }

  test("nulls are never invented: a null value stays null through repair") {
    val withNull = Seq(("x", Option.empty[Long], Seq(9))).toDF("id", "n", "xs")
    val (rep, report) = Repair.repair(withNull, doc)
    val r = rep.collect().head
    assert(r.isNullAt(1))
    assert(r.getSeq[Int](2) == Seq(5))
    val counts = report.as[(String, Long)].collect().toMap
    assert(counts("n") == 0L && counts("xs") == 1L)
  }

  test("fractional bounds clamp integral columns to an in-bound value") {
    // cast-truncation would clamp 3 to 5 (< 5.7, still violating) and -3 to
    // -5 (> -5.7): minima must round UP, maxima DOWN
    val doc2 = SchemaParser.parse(
      """{"properties": {
           "lo": {"type": "integer", "minimum": 5.7},
           "hi": {"type": "integer", "maximum": -5.7},
           "xs": {"type": "array", "items": {"minimum": 1.2}}}}""")
    val df = Seq((3L, -3L, Seq(0, 9))).toDF("lo", "hi", "xs")
    val (rep, _) = Repair.repair(df, doc2)
    val r = rep.collect().head
    assert(r.getLong(0) == 6L)   // ceil(5.7)
    assert(r.getLong(1) == -6L)  // floor(-5.7)
    assert(r.getSeq[Int](2) == Seq(2, 9)) // element clamp: ceil(1.2)
    // the repaired rows satisfy the schema (the repaired-rows-clean contract)
    assert(RowValidator.violations(rep, doc2, "lo").count() == 0)
  }

  test("bounds outside an integral column's range clamp to it, never wrap") {
    // a cast would wrap maximum 300 into a byte as 44 (and ANSI rejects it);
    // minimum 300 fits no byte, so that rule is skipped and violations()
    // still reports the row
    val doc2 = SchemaParser.parse(
      """{"properties": {
           "b": {"type": "integer", "minimum": -300, "maximum": 300},
           "out": {"type": "integer", "minimum": 300},
           "l": {"type": "integer", "maximum": 1e19},
           "xs": {"type": "array", "items": {"maximum": 1e30}}}}""")
    val df = Seq((100.toByte, 5.toByte, Long.MaxValue - 1, Seq(7.toShort)))
      .toDF("b", "out", "l", "xs")
    val (rep, report) = Repair.repair(df, doc2)
    val r = rep.collect().head
    assert(r.getByte(0) == 100.toByte && r.getByte(1) == 5.toByte)
    assert(r.getLong(2) == Long.MaxValue - 1)
    assert(r.getSeq[Short](3) == Seq(7.toShort))
    assert(report.as[(String, Long)].collect().toMap == Map("b" -> 0L, "l" -> 0L, "xs" -> 0L))
    val v = RowValidator.violations(rep, doc2, "b").select("keyword", "instanceLocation")
      .as[(String, String)].collect()
    assert(v.toSeq == Seq(("minimum", "#/out")))
  }
}
