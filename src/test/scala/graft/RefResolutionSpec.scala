package graft

import graft.model.{SchemaLoader, SchemaParser}
import graft.row.RowValidator
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach

case class RefDoc(name: String, score: Long)

/** `$id`-scoped reference resolution (reference:
  * pkg/draft202012/builder.go:149-224,408-473), the SchemaLoader hook
  * (schema.go:1040-1052) and the bundled draft 2020-12 metaschemas
  * (pkg/draft202012/meta.go:15-23). */
class RefResolutionSpec extends SparkSpec with BeforeAndAfterEach {
  import spark.implicits._

  override def afterEach(): Unit = SchemaLoader.reset()

  private def violationsOf(schema: String): Map[String, Long] = {
    val df = Seq(RefDoc("ok", 5), RefDoc("bad", -3)).toDF()
    RowValidator.violations(df, SchemaParser.parse(schema), "name")
      .collect().groupBy(_.getAs[String]("keyword"))
      .view.mapValues(_.length.toLong).toMap
  }

  test("$ref to an embedded $id resource by absolute URI") {
    val schema =
      """{
        "$id": "https://example.test/root.json",
        "type": "object",
        "properties": {
          "score": {"$ref": "https://example.test/score.json"}
        },
        "$defs": {
          "scoreDef": {"$id": "https://example.test/score.json",
                       "type": "integer", "minimum": 0}
        }
      }"""
    assert(violationsOf(schema) == Map("minimum" -> 1L))
  }

  test("relative $ref resolves against the enclosing $id base") {
    val schema =
      """{
        "$id": "https://example.test/schemas/root.json",
        "type": "object",
        "properties": {
          "score": {"$ref": "score.json"}
        },
        "$defs": {
          "scoreDef": {"$id": "score.json", "type": "integer", "minimum": 0}
        }
      }"""
    // $defs/scoreDef's $id absolutizes to https://example.test/schemas/score.json,
    // and the relative $ref "score.json" must land on it
    assert(violationsOf(schema) == Map("minimum" -> 1L))
  }

  test("anchors are scoped to their enclosing $id resource") {
    val schema =
      """{
        "$id": "https://example.test/root.json",
        "type": "object",
        "properties": {
          "score": {"$ref": "https://example.test/nums.json#pos"}
        },
        "$defs": {
          "decoy": {"$anchor": "pos", "type": "string"},
          "nums": {
            "$id": "https://example.test/nums.json",
            "$defs": {"p": {"$anchor": "pos", "type": "integer", "minimum": 0}}
          }
        }
      }"""
    // the root-resource "pos" anchor (a string schema) must NOT win: the ref
    // names the nums.json resource, whose scoped "pos" anchor is minimum: 0
    assert(violationsOf(schema) == Map("minimum" -> 1L))
  }

  test("nested $id re-bases refs inside the resolved resource") {
    val schema =
      """{
        "$id": "https://example.test/a/root.json",
        "type": "object",
        "properties": {
          "score": {"$ref": "https://other.test/mid.json"}
        },
        "$defs": {
          "mid": {
            "$id": "https://other.test/mid.json",
            "$ref": "leaf.json"
          },
          "leaf": {"$id": "https://other.test/leaf.json",
                   "type": "integer", "minimum": 0}
        }
      }"""
    // inside mid.json, "leaf.json" must resolve against https://other.test/,
    // not the root document's base
    assert(violationsOf(schema) == Map("minimum" -> 1L))
  }

  test("a $id inside const DATA does not register a phantom resource") {
    val schema =
      """{
        "$id": "https://example.test/root.json",
        "type": "object",
        "properties": {
          "meta": {"const": {"$id": "https://example.test/score.json",
                             "$anchor": "decoy", "type": "string"}},
          "score": {"$ref": "https://example.test/score.json"}
        },
        "$defs": {
          "real": {"$id": "https://example.test/score.json",
                   "type": "integer", "minimum": 0}
        }
      }"""
    // the const payload appears FIRST in document order; if the walker
    // treated data positions as schemas, the ref would hit the decoy
    val df = Seq(RefDoc("ok", 5), RefDoc("bad", -3)).toDF()
    val v = RowValidator.violations(df, SchemaParser.parse(schema), "name")
      .collect().groupBy(_.getAs[String]("keyword"))
      .view.mapValues(_.length.toLong).toMap
    assert(v == Map("minimum" -> 1L))
  }

  test("SchemaLoader hook supplies external documents (SetLoader analogue)") {
    SchemaLoader.addLoader {
      case "https://registry.test/score-schema.json" => Some(
        """{
          "$id": "https://registry.test/score-schema.json",
          "$ref": "#/$defs/s",
          "$defs": {"s": {"type": "integer", "minimum": 0}}
        }""")
      case _ => None
    }
    val schema =
      """{
        "type": "object",
        "properties": {
          "score": {"$ref": "https://registry.test/score-schema.json"}
        }
      }"""
    // the loaded document's own internal "#/$defs/s" ref must resolve inside
    // the LOADED document, not the referring one
    assert(violationsOf(schema) == Map("minimum" -> 1L))
  }

  test("flat-fallback anchor resolution carries the anchor's OWN resource base") {
    // the anchor lives inside an embedded $id resource; its relative $ref
    // must absolutize against THAT resource's base (sub/leaf), not the
    // referring root's (which would yield an unresolvable ../leaf)
    val schema =
      """{
        "$id": "https://example.test/anchbase/root",
        "$defs": {
          "sub": {
            "$id": "sub/inner",
            "$defs": {
              "m": {"$anchor": "deep", "$ref": "leaf"},
              "leafRes": {"$id": "leaf", "type": "integer", "minimum": 0}
            }
          }
        },
        "properties": {"score": {"$ref": "#deep"}}
      }"""
    assert(violationsOf(schema) == Map("minimum" -> 1L))
  }

  test("enableHttpLoader fetches a non-bundled URI over HTTP (opt-in, off by default)") {
    // local HTTP fixture — no external network; the loader semantics match
    // the reference's URL loader (schema.go:1045-1052): absolute retrieval
    // URI in, document text out, fetch failure = unresolved ref
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/score.json",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        val b = """{"type": "integer", "minimum": 0}""".getBytes("UTF-8")
        ex.sendResponseHeaders(200, b.length.toLong)
        ex.getResponseBody.write(b); ex.close()
      })
    server.start()
    try {
      val uri = s"http://127.0.0.1:${server.getAddress.getPort}/score.json"
      val schema =
        s"""{"type": "object", "properties": {"score": {"$$ref": "$uri"}}}"""
      // OFF by default: with no opt-in, even a reachable URL is unresolved
      val e = intercept[IllegalArgumentException](violationsOf(schema))
      assert(e.getMessage.contains("no registered loader"))
      SchemaLoader.enableHttpLoader()
      assert(violationsOf(schema) == Map("minimum" -> 1L))
      // a 404 URI still resolves to "no loader could supply it"
      val miss =
        s"""{"type": "object", "properties":
            {"score": {"$$ref": "http://127.0.0.1:${server.getAddress.getPort}/absent.json"}}}"""
      val e2 = intercept[IllegalArgumentException](violationsOf(miss))
      assert(e2.getMessage.contains("no registered loader"))
    } finally server.stop(0)
  }

  test("the HTTP loader leaves an oversized body or a redirect loop unresolved") {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val schemaBytes = """{"type": "integer", "minimum": 0}""".getBytes("UTF-8")
    server.createContext("/score.json",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        ex.sendResponseHeaders(200, schemaBytes.length.toLong)
        ex.getResponseBody.write(schemaBytes); ex.close()
      })
    // a valid schema padded with whitespace to 4x the cap, streamed with no
    // Content-Length: only the loader hanging up stops the stream early
    val sent = new java.util.concurrent.atomic.AtomicLong()
    val padded = 4L * SchemaLoader.HttpMaxBytes
    server.createContext("/big.json",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        ex.sendResponseHeaders(200, 0)
        val out = ex.getResponseBody
        val pad = Array.fill[Byte](64 << 10)(' ')
        try {
          out.write(schemaBytes, 0, schemaBytes.length - 1)
          while (sent.get < padded) { out.write(pad); sent.addAndGet(pad.length) }
          out.write('}')
        } catch { case _: java.io.IOException => () } // the loader hung up
        finally ex.close()
      })
    // a declared length past the cap is refused from the headers
    server.createContext("/declared.json",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        try {
          ex.sendResponseHeaders(200, SchemaLoader.HttpMaxBytes + 1L)
          ex.getResponseBody.write(new Array[Byte](SchemaLoader.HttpMaxBytes + 1))
        } catch { case _: java.io.IOException => () }
        finally ex.close()
      })
    val loopHits = new java.util.concurrent.atomic.AtomicInteger()
    server.createContext("/loop.json",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        loopHits.incrementAndGet()
        ex.getResponseHeaders.add("Location", "/loop.json")
        ex.sendResponseHeaders(302, -1); ex.close()
      })
    server.createContext("/hop.json",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        ex.getResponseHeaders.add("Location", "/score.json")
        ex.sendResponseHeaders(302, -1); ex.close()
      })
    server.start()
    try {
      SchemaLoader.enableHttpLoader()
      def refTo(path: String) =
        s"""{"type": "object", "properties": {"score":
            {"$$ref": "http://127.0.0.1:${server.getAddress.getPort}$path"}}}"""
      def unresolved(path: String): Unit = {
        val e = intercept[IllegalArgumentException](violationsOf(refTo(path)))
        assert(e.getMessage.contains("no registered loader"), path)
      }
      // a redirect within the cap is still followed
      assert(violationsOf(refTo("/hop.json")) == Map("minimum" -> 1L))
      unresolved("/big.json")
      assert(sent.get < padded, "the loader read the oversized body to its end")
      unresolved("/declared.json")
      unresolved("/loop.json")
      assert(loopHits.get % (SchemaLoader.HttpMaxRedirects + 1) == 0 && loopHits.get > 0,
        s"${loopHits.get} requests to the redirect loop")
    } finally server.stop(0)
  }

  test("the HTTP loader never follows an https redirect to http") {
    def follows(from: String, to: String, schemes: Set[String] = Set("http", "https")) =
      SchemaLoader.followsRedirect(new java.net.URI(from), new java.net.URI(to), schemes)
    assert(!follows("https://a.example/s.json", "http://a.example/s.json"))
    assert(!follows("HTTPS://a.example/s.json", "HTTP://b.example/s.json"))
    assert(follows("https://a.example/s.json", "https://b.example/s.json"))
    assert(follows("http://a.example/s.json", "https://a.example/s.json"))
    assert(follows("http://a.example/s.json", "http://b.example/s.json"))
    // the target's scheme must be allowed
    assert(!follows("http://a.example/s.json", "https://a.example/s.json", Set("http")))
    assert(!follows("https://a.example/s.json", "file:///etc/passwd"))
    assert(!follows("http://a.example/s.json", "/relative/s.json"))
  }

  test("unresolvable remote ref without a loader errors like the reference") {
    val schema =
      """{"type": "object",
         "properties": {"score": {"$ref": "https://nowhere.test/x.json"}}}"""
    val e = intercept[IllegalArgumentException](violationsOf(schema))
    assert(e.getMessage.contains("no registered loader"))
  }

  test("bundled metaschema: $ref to a 2020-12 vocab meta-schema compiles") {
    // validate schema-shaped rows against the meta-data vocabulary metaschema
    case class MetaDoc(title: String, description: String)
    val df = Seq(("t", "d")).toDF("title", "description")
    val doc = SchemaParser.parse(
      """{"$ref": "https://json-schema.org/draft/2020-12/meta/meta-data"}""")
    val v = RowValidator.violations(df.withColumn("id", lit("r0")), doc, "id")
    assert(v.count() == 0)
  }

  test("recursive $ref terminates by data descent (tree schema)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val leaf = StructType(Seq(StructField("w", IntegerType)))
    val mid = StructType(Seq(StructField("w", IntegerType),
      StructField("children", ArrayType(leaf))))
    val top = StructType(Seq(StructField("w", IntegerType),
      StructField("children", ArrayType(mid))))
    val df = spark.createDataFrame(java.util.Arrays.asList(
      Row(1, Seq(Row(2, Seq(Row(-3))), Row(4, Seq(Row(5))))),
      Row(1, Seq(Row(2, Seq(Row(3)))))), top)
    val schema =
      """{"type": "object",
         "properties": {
           "w": {"type": "integer", "minimum": 0},
           "children": {"type": "array", "items": {"$ref": "#"}}}}"""
    val c = graft.compile.ConstraintCompiler.compile(SchemaParser.parse(schema),
      struct(df.columns.map(col): _*), df.schema)
    val got = df.select(c.valid).collect().map(_.getBoolean(0)).toSeq
    // first row has a nested w = -3 two levels down; second row is clean
    assert(got == Seq(false, true))
  }

  test("$dynamicRef resolves in the dynamic scope (generic-list extension)") {
    // the classic 2020-12 pattern: a generic list whose item schema is a
    // $dynamicAnchor; an extending resource re-binds the anchor. Static $ref
    // semantics would accept anything (the generic default); dynamic-scope
    // semantics must use the extender's number/minimum binding.
    val schema =
      """{
        "$id": "https://dyn.test/number-list",
        "$ref": "https://dyn.test/list",
        "$defs": {
          "num": {"$dynamicAnchor": "item", "type": "number", "minimum": 0},
          "list": {
            "$id": "https://dyn.test/list",
            "type": "array",
            "items": {"$dynamicRef": "#item"},
            "$defs": {"default-item": {"$dynamicAnchor": "item", "type": "number"}}
          }
        }
      }"""
    val df = Seq(Tuple1(Seq(1.0, 2.0)), Tuple1(Seq(1.0, -2.0))).toDF("value")
    val ok = df.select(RowValidator.validColumn(df, schema,
      opts = graft.compile.CompileOpts(nullIsAbsent = false)).as("ok"))
      .collect().map(_.getBoolean(0)).toSeq
    // -2.0 violates the DYNAMIC binding (minimum 0); the generic list's own
    // default-item (any number) would have accepted it
    assert(ok == Seq(true, false))
  }

  test("bundled metaschema: the full draft 2020-12 meta-schema resolves") {
    val doc = SchemaParser.parse(
      """{"$ref": "https://json-schema.org/draft/2020-12/schema"}""")
    // resolution-level check: the root metaschema and every vocab file it
    // references load and parse (compilation against a concrete DataType is
    // exercised by the meta-data case above)
    val node = doc.resolveRefNode("https://json-schema.org/draft/2020-12/schema")
    assert(node.isInstanceOf[graft.model.ObjSchema])
    val core = doc.resolveRefNode("https://json-schema.org/draft/2020-12/meta/core")
    assert(core.isInstanceOf[graft.model.ObjSchema])
    // cross-document pointer ref into a loaded metaschema resource
    val sa = doc.resolveRefNode(
      "https://json-schema.org/draft/2020-12/meta/validation#/$defs/stringArray")
    assert(sa.isInstanceOf[graft.model.ObjSchema])
  }
}
