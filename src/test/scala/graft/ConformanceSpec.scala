package graft

import graft.compile.{CompileOpts, ConstraintCompiler}
import graft.model.SchemaParser
import org.apache.spark.sql.functions.{col, size}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Runs the translated conformance corpus (FIXTURES.md §6) — the same
  * format as the official JSON-Schema-Test-Suite the reference vendors
  * (`internal/cmd/testgen/testgen.go:21-44`): each case = {schema, tests:
  * [{data, valid}]}. Every instance becomes a one-row DataFrame typed from
  * the instance shape; `valid` ⇔ zero violations under conformance
  * semantics (nullIsAbsent = false).
  *
  * The `valid` flags encode REFERENCE behavior, including its deliberate
  * deviations from spec (numeric keywords on parseable strings,
  * `internal/validator/validator.go:1275-1281`).
  */
class ConformanceSpec extends SparkSpec {

  private val modes = Seq(
    "conformance" -> CompileOpts(nullIsAbsent = false),
    "table" -> CompileOpts())

  /** Every corpus instance: its label, its `valid` flag, and per mode in
    * [[modes]] the compiled (valid, violations.isEmpty) — or what it threw. */
  private lazy val results: Seq[(String, Boolean, Either[String, Seq[(Boolean, Boolean)]])] = {
    def read(f: String) = JsonMethods.parse(scala.io.Source.fromInputStream(
      getClass.getResourceAsStream(f), "UTF-8").mkString)

    val flat = Seq("/conformance/cases.json", "/conformance/cases2.json",
      "/conformance/cases4.json", "/conformance/cases5.json",
      "/conformance/cases6.json", "/conformance/cases7.json",
      "/conformance/cases8.json", "/conformance/cases9.json",
      "/conformance/cases10.json", "/conformance/cases11.json",
      "/conformance/cases12.json", "/conformance/cases13.json",
      "/conformance/cases14.json", "/conformance/cases15.json",
      "/conformance/cases16.json", "/conformance/cases17.json",
      "/conformance/cases18.json", "/conformance/cases19.json",
      "/conformance/cases20.json", "/conformance/cases21.json",
      "/conformance/cases22.json", "/conformance/cases23.json",
      "/conformance/cases24.json", "/conformance/cases25.json",
      "/conformance/cases26.json", "/conformance/cases27.json").flatMap { f =>
      val JArray(gs) = read(f): @unchecked
      gs
    }
    // cases3.json carries {"remotes": {uri -> schema}, "groups": [...]}: the
    // remotes are served through a SchemaLoader.addLoader hook — the
    // `remotes/` directory of the official suite, reaching the SetLoader
    // analogue (testgen downloads that suite; no network here, so the
    // documents are vendored in the corpus file itself)
    val v3 = read("/conformance/cases3.json")
    val remoteDocs: Map[String, String] = (v3 \ "remotes") match {
      case JObject(fields) =>
        fields.map { case (uri, s) => uri -> JsonMethods.compact(JsonMethods.render(s)) }.toMap
      case _ => Map.empty
    }
    graft.model.SchemaLoader.addLoader(uri => remoteDocs.get(uri))
    val JArray(g3) = (v3 \ "groups"): @unchecked
    val groups = flat ++ g3

    groups.flatMap { g =>
      val desc = (g \ "description").asInstanceOf[JString].s
      val schemaJson = JsonMethods.compact(JsonMethods.render(g \ "schema"))
      val JArray(tests) = (g \ "tests"): @unchecked
      tests.map { t =>
        val label = s"[$desc :: ${(t \ "description").asInstanceOf[JString].s}]"
        val expected = (t \ "valid").asInstanceOf[JBool].value
        val got = try {
          val df = JsonInstances.toDf(spark, t \ "data")
          val doc = SchemaParser.parse(schemaJson)
          val cols = modes.flatMap { case (_, opts) =>
            val c = ConstraintCompiler.compile(doc, col("value"), df.schema("value").dataType, opts)
            Seq(c.valid, size(c.violations) === 0)
          }
          val row = df.select(cols: _*).collect()(0)
          Right(modes.indices.map(i => (row.getBoolean(2 * i), row.getBoolean(2 * i + 1))))
        } catch {
          case e: Exception => Left(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        (label, expected, got)
      }
    }
  }

  test("conformance corpus") {
    val failures = results.collect {
      case (label, expected, Right(got)) if got.head._1 != expected =>
        s"$label expected valid=$expected got=${got.head._1}"
      case (label, _, Left(err)) => s"$label $err"
    }
    assert(failures.isEmpty,
      s"\n${failures.size}/${results.size} conformance failures:\n${failures.mkString("\n")}")
    info(s"${results.size} conformance cases passed")
  }

  // the compiler builds `valid` and `violations` as two expression DAGs;
  // every verdict and report relies on them agreeing
  test("valid ⇔ violations.isEmpty on every corpus instance, conformance and table mode") {
    val disagreements = for {
      (label, _, Right(got)) <- results
      ((mode, _), (valid, noViolations)) <- modes.zip(got) if valid != noViolations
    } yield s"$label $mode mode: valid=$valid violations.isEmpty=$noViolations"
    assert(results.forall(_._3.isRight), "corpus instances threw: see \"conformance corpus\"")
    assert(disagreements.isEmpty,
      s"\n${disagreements.size} disagreements:\n${disagreements.mkString("\n")}")
  }
}

/** Builds a one-row, one-column (`value`) DataFrame whose type is inferred
  * from a JSON instance — the test-side analogue of the reference decoding an
  * instance with `json.Unmarshal` (`pkg/jsonschema/jsonschema.go:17-24`).
  * Numbers become DoubleType (JSON numbers decode to float64 in the
  * reference). Arrays must be homogeneous (Spark arrays are). */
object JsonInstances {

  def toDf(spark: SparkSession, data: JValue): DataFrame = {
    val (dt, v) = convert(data)
    val schema = StructType(Seq(StructField("value", dt, nullable = true)))
    spark.createDataFrame(
      java.util.Arrays.asList(Row(v)), schema)
  }

  /** JValue → (DataType, Catalyst external value). */
  def convert(v: JValue): (DataType, Any) = v match {
    case JNull | JNothing => (NullType, null)
    case JBool(b) => (BooleanType, b)
    case JString(s) => (StringType, s)
    case JInt(i) => (DoubleType, i.toDouble)
    case JLong(l) => (DoubleType, l.toDouble)
    case JDouble(d) => (DoubleType, d)
    case JDecimal(d) => (DoubleType, d.toDouble)
    case JArray(items) =>
      val converted = items.map(convert)
      val elemType = converted.map(_._1).filterNot(_ == NullType) match {
        case Nil => StringType
        case ts =>
          require(ts.distinct.size == 1,
            s"heterogeneous array not representable in Spark: ${ts.distinct}")
          ts.head
      }
      (ArrayType(elemType, containsNull = true), converted.map(_._2))
    case o: JObject =>
      val fields = o.obj.map { case (k, fv) =>
        val (dt, cv) = convert(fv)
        (StructField(k, dt, nullable = true), cv)
      }
      (StructType(fields.map(_._1)), Row(fields.map(_._2): _*))
    case other => throw new IllegalArgumentException(s"unsupported instance: $other")
  }
}
