package graft.model

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Typed IR for a JSON Schema (draft 2020-12 subset) — the analogue of the
  * reference's ordered `Part` list (`pkg/types/schema/schema.go:32-35,886-889`),
  * re-expressed as a Scala ADT that the Catalyst compiler walks.
  *
  * Unlike the reference, `$ref`s are NOT pre-resolved into the tree
  * (`pkg/draft202012/builder.go:286-405`); they stay symbolic (`RefK`) and are
  * resolved lazily during compilation against a concrete Spark `DataType`, so
  * recursive schemas terminate naturally when the (finite) data type bottoms out.
  */
sealed trait SchemaNode

/** `true` / `false` schema — reference's synthetic `$bool` keyword
  * (`pkg/types/schema/schema.go:1175-1196`). */
final case class BoolSchema(value: Boolean) extends SchemaNode

/** An object schema: keyword list in source order (compiler handles the
  * note-producer-before-consumer ordering internally, mirroring the
  * reference's `sortRank` topological sort, `internal/cmd/keywordgen/sort.go`). */
final case class ObjSchema(keywords: Vector[Keyword]) extends SchemaNode {
  def find[K <: Keyword](implicit ct: scala.reflect.ClassTag[K]): Option[K] =
    keywords.collectFirst { case k: K => k }
}

sealed trait Keyword { def name: String }

// ---- scalar keywords (internal/validator/validator.go:753-1020) ----
final case class TypeK(types: Set[String])              extends Keyword { val name = "type" }
final case class EnumK(values: List[JValue])            extends Keyword { val name = "enum" }
final case class ConstK(value: JValue)                  extends Keyword { val name = "const" }
final case class MinimumK(v: Double)                    extends Keyword { val name = "minimum" }
final case class MaximumK(v: Double)                    extends Keyword { val name = "maximum" }
final case class ExclusiveMinimumK(v: Double)           extends Keyword { val name = "exclusiveMinimum" }
final case class ExclusiveMaximumK(v: Double)           extends Keyword { val name = "exclusiveMaximum" }
final case class MultipleOfK(v: Double)                 extends Keyword { val name = "multipleOf" }
final case class MinLengthK(n: Long)                    extends Keyword { val name = "minLength" }
final case class MaxLengthK(n: Long)                    extends Keyword { val name = "maxLength" }
final case class PatternK(pattern: String)              extends Keyword { val name = "pattern" }
final case class FormatK(format: String)                extends Keyword { val name = "format" }
final case class DefaultK(value: JValue)                extends Keyword { val name = "default" }

// ---- array keywords (validator.go:274-439, 1023-1137) ----
final case class ItemsK(schema: SchemaNode)             extends Keyword { val name = "items" }
final case class PrefixItemsK(schemas: Vector[SchemaNode]) extends Keyword { val name = "prefixItems" }
final case class ContainsK(schema: SchemaNode)          extends Keyword { val name = "contains" }
final case class MinContainsK(n: Long)                  extends Keyword { val name = "minContains" }
final case class MaxContainsK(n: Long)                  extends Keyword { val name = "maxContains" }
final case class MinItemsK(n: Long)                     extends Keyword { val name = "minItems" }
final case class MaxItemsK(n: Long)                     extends Keyword { val name = "maxItems" }
final case class UniqueItemsK(unique: Boolean)          extends Keyword { val name = "uniqueItems" }

// ---- object keywords (validator.go:450-750, 1140-1224) ----
final case class PropertiesK(props: Vector[(String, SchemaNode)]) extends Keyword { val name = "properties" }
final case class PatternPropertiesK(pats: Vector[(String, SchemaNode)]) extends Keyword { val name = "patternProperties" }
final case class AdditionalPropertiesK(schema: SchemaNode) extends Keyword { val name = "additionalProperties" }
final case class PropertyNamesK(schema: SchemaNode)     extends Keyword { val name = "propertyNames" }
final case class RequiredK(names: List[String])         extends Keyword { val name = "required" }
final case class DependentRequiredK(deps: Vector[(String, List[String])]) extends Keyword { val name = "dependentRequired" }
final case class DependentSchemasK(deps: Vector[(String, SchemaNode)]) extends Keyword { val name = "dependentSchemas" }
final case class MinPropertiesK(n: Long)                extends Keyword { val name = "minProperties" }
final case class MaxPropertiesK(n: Long)                extends Keyword { val name = "maxProperties" }

// ---- applicators (validator.go:62-263) ----
final case class AllOfK(schemas: Vector[SchemaNode])    extends Keyword { val name = "allOf" }
final case class AnyOfK(schemas: Vector[SchemaNode])    extends Keyword { val name = "anyOf" }
final case class OneOfK(schemas: Vector[SchemaNode])    extends Keyword { val name = "oneOf" }
final case class NotK(schema: SchemaNode)               extends Keyword { val name = "not" }
final case class IfK(schema: SchemaNode)                extends Keyword { val name = "if" }
final case class ThenK(schema: SchemaNode)              extends Keyword { val name = "then" }
final case class ElseK(schema: SchemaNode)              extends Keyword { val name = "else" }

/** Annotation-driven residue keywords (validator.go:647-750): apply to
  * properties/items not evaluated by any sibling or in-place applicator.
  * The reference tracks evaluation through runtime `Notes`; our compiler
  * resolves coverage statically into per-row conditional predicates
  * (SURVEY §7.4.1). */
final case class UnevaluatedPropertiesK(schema: SchemaNode) extends Keyword { val name = "unevaluatedProperties" }
final case class UnevaluatedItemsK(schema: SchemaNode)      extends Keyword { val name = "unevaluatedItems" }

/** Symbolic reference; resolved at compile time (lazy inlining). */
final case class RefK(ref: String)                      extends Keyword { val name = "$ref" }

/** `$dynamicRef` — compile-time approximation resolving to the OUTERMOST
  * `$dynamicAnchor` in document order (exact for non-recursive schemas,
  * mirroring the outermost-anchor-wins rule, pkg/draft202012/validate.go:138-142;
  * SURVEY §7.4.2 documents the limitation for runtime-scoped recursion). */
final case class DynamicRefK(ref: String)               extends Keyword { val name = "$dynamicRef" }

/** Annotation-only keywords retained as metadata (keywords.go:337-412) +
  * unknown keywords retained always-valid (schema.go:521-532). */
final case class AnnotationK(name: String, value: JValue) extends Keyword

/** A parsed schema document: root node + raw tree for `$ref`/`$defs`
  * resolution + symbol tables.
  *
  * `$id`-scoped resolution (mirrors the reference's `resolveIDs`/`resolveURI`
  * walk, `pkg/draft202012/builder.go:149-224,408-473`): every subschema with
  * `$id` opens an embedded RESOURCE whose absolute URI (resolved against the
  * enclosing base) keys `resources`; `$anchor`/`$dynamicAnchor` names are
  * scoped to their enclosing resource in `scopedAnchors`/`scopedDynAnchors`.
  * `$ref` strings are ABSOLUTIZED against the in-scope base at parse time
  * (see SchemaParser.parseNode), so resolution here needs no positional
  * context. URIs not found in this document fall through to `SchemaLoader`
  * (bundled metaschemas, registered documents, user loader hooks) — the
  * analogue of the reference's `SetLoader` (pkg/types/schema/schema.go:1040-1052).
  *
  * The legacy flat `anchors`/`dynamicAnchors` tables (document-order
  * first-wins) are kept as the fallback for single-resource documents. */
final case class SchemaDoc(root: SchemaNode, rawRoot: JValue,
                           anchors: Map[String, (JValue, String)],
                           dynamicAnchors: Map[String, (JValue, String)] = Map.empty,
                           baseUri: String = "",
                           resources: Map[String, JValue] = Map.empty,
                           scopedAnchors: Map[(String, String), JValue] = Map.empty,
                           scopedDynAnchors: Map[(String, String), JValue] = Map.empty,
                           dialect: Dialect = Dialects.draft202012) {

  private def splitRef(ref: String): (String, String) = {
    val i = ref.indexOf('#')
    if (i < 0) (ref, "") else (ref.take(i), ref.drop(i + 1))
  }

  private def fragmentIn(res: JValue, resBase: String, frag: String,
                         ref: String): (JValue, String) = frag match {
    case "" => (res, resBase)
    // pointer descent re-bases at embedded $id resources it crosses
    case f if f.startsWith("/") => SchemaParser.jsonPointerWithBase(res, resBase, f)
    // BOTH resource-scoped tables outrank the flat document-order fallbacks:
    // a plain-name fragment is scoped to the resource it resolves against
    // (an anchor of the same name in a sibling resource must not shadow the
    // local $dynamicAnchor — the official "$anchor with the same name as a
    // $dynamicAnchor" case). A $dynamicAnchor also creates a plain anchor
    // for non-dynamic $refs.
    case a => scopedAnchors.get((resBase, a))
      .orElse(scopedDynAnchors.get((resBase, a)))
      .map((_, resBase))
      // flat document-order fallback: the anchor may live inside an embedded
      // $id resource, so it carries ITS OWN base — pairing it with the query
      // resource's base would absolutize the subtree's relative refs wrongly
      .orElse(anchors.get(a)).orElse(dynamicAnchors.get(a))
      .getOrElse(throw new IllegalArgumentException(s"unknown anchor in $ref"))
  }

  /** Resolve a (parse-time absolutized) `$ref` to (raw subtree, base URI the
    * subtree's own refs resolve against, owning document). */
  def resolveRefFull(ref: String): (JValue, String, SchemaDoc) = {
    val (uriPart, frag) = splitRef(ref)
    if (uriPart.isEmpty || uriPart == baseUri) {
      val (j, b) = fragmentIn(rawRoot, baseUri, frag, ref); (j, b, this)
    } else resources.get(uriPart) match {
      case Some(res) =>
        val (j, b) = fragmentIn(res, uriPart, frag, ref); (j, b, this)
      case None => SchemaLoader.resolve(uriPart) match {
        case Some((ownerDoc, res, resBase)) =>
          val (j, b) = ownerDoc.fragmentIn(res, resBase, frag, ref)
          (j, b, ownerDoc)
        case None => throw new IllegalArgumentException(
          s"unresolvable \\$$ref: $ref (no \\$$id resource, no registered loader)")
      }
    }
  }

  /** Resolve a `$ref` to (raw subtree, base URI). */
  def resolveRefWithBase(ref: String): (JValue, String) = {
    val (j, b, _) = resolveRefFull(ref); (j, b)
  }

  /** Resolve a `$ref` string to the referenced raw subtree.
    * Supports "#", "#/json/pointer", "#anchor", and absolute `$id` URIs. */
  def resolveRef(ref: String): JValue = resolveRefWithBase(ref)._1

  /** Resolve and parse under the target resource's base URI, so refs inside
    * the resolved subtree absolutize against the RIGHT base. */
  def resolveRefNode(ref: String): SchemaNode = {
    val (raw, base) = resolveRefWithBase(ref)
    SchemaParser.parseNode(raw, base)
  }

  /** `$dynamicRef` resolution: outermost `$dynamicAnchor` first (the static
    * approximation of the runtime anchor stack, validate.go:84-182), falling
    * back to plain `$ref` semantics when no dynamic anchor matches. */
  def resolveDynamicRef(ref: String): JValue = resolveDynamicRefWithBase(ref)._1

  private def resolveDynamicRefWithBase(ref: String): (JValue, String) = {
    val (uriPart, frag) = splitRef(ref)
    val local = uriPart.isEmpty || uriPart == baseUri || resources.contains(uriPart)
    if (local)
      dynamicAnchors.get(frag).getOrElse(resolveRefWithBase(ref))
    else SchemaLoader.resolve(uriPart) match {
      // the static dynamic-scope approximation stays within the OWNING
      // document: its outermost $dynamicAnchor of that name wins
      case Some((ownerDoc, _, _)) if ownerDoc ne this =>
        ownerDoc.resolveDynamicRefWithBase(s"#$frag")
      case _ => resolveRefWithBase(ref)
    }
  }

  def resolveDynamicRefNode(ref: String): SchemaNode = {
    val (raw, base) = resolveDynamicRefWithBase(ref)
    SchemaParser.parseNode(raw, base)
  }
}

/** JSON Schema text → typed IR. Mirrors the reference's
  * `buildFromJSON`/`addKeywordFromJSON` (`pkg/types/schema/schema.go:491-698`)
  * but is a pure function — no registries, no mutation. */
object SchemaParser {

  def parse(jsonText: String): SchemaDoc = parseJValue(JsonMethods.parse(jsonText))

  def parseJValue(raw: JValue): SchemaDoc = parseJValue(raw, "")

  /** Parse with a retrieval base URI (the URI the document was loaded from,
    * if any) — the document's own top-level `$id` takes precedence. */
  def parseJValue(raw: JValue, retrievalUri: String): SchemaDoc = {
    val rootBase = raw match {
      case o: JObject => o \ "$id" match {
        case JString(id) => resolveUri(retrievalUri, stripFragment(id))
        case _ => retrievalUri
      }
      case _ => retrievalUri
    }
    // $schema selects the keyword dialect for the whole document
    // (buildTopFromJSON, schema.go:420-465); unknown URIs fall back
    val dialect = Dialects.forSchemaUri(raw match {
      case o: JObject => o \ "$schema" match {
        case JString(u) => Some(u)
        case _ => None
      }
      case _ => None
    })
    val anchors = collectAnchors(raw, "$anchor", rootBase, Map.empty)
    val dynAnchors = collectAnchors(raw, "$dynamicAnchor", rootBase, Map.empty)
    val tables = collectScoped(raw, rootBase, ScopedTables())
    SchemaDoc(parseNode(raw, retrievalUri, dialect), raw, anchors, dynAnchors,
      baseUri = rootBase, resources = tables.resources,
      scopedAnchors = tables.anchors, scopedDynAnchors = tables.dynAnchors,
      dialect = dialect)
  }

  private final case class ScopedTables(
      resources: Map[String, JValue] = Map.empty,
      anchors: Map[(String, String), JValue] = Map.empty,
      dynAnchors: Map[(String, String), JValue] = Map.empty)

  /** Walk collecting `$id` resources and resource-scoped anchors. First
    * occurrence wins on duplicate URIs/names (duplicate `$id`s are a schema
    * authoring error; we keep the outermost, like the flat anchor walk). */
  private def collectScoped(v: JValue, base: String, acc: ScopedTables): ScopedTables = v match {
    case o: JObject =>
      val newBase = o \ "$id" match {
        case JString(id) => resolveUri(base, stripFragment(id))
        case _ => base
      }
      var t = acc
      if (newBase.nonEmpty && newBase != base && !t.resources.contains(newBase))
        t = t.copy(resources = t.resources + (newBase -> o))
      o \ "$anchor" match {
        case JString(a) if !t.anchors.contains((newBase, a)) =>
          t = t.copy(anchors = t.anchors + ((newBase, a) -> o))
        case _ =>
      }
      o \ "$dynamicAnchor" match {
        case JString(a) if !t.dynAnchors.contains((newBase, a)) =>
          t = t.copy(dynAnchors = t.dynAnchors + ((newBase, a) -> o))
        case _ =>
      }
      childSchemas(o).foldLeft(t)((m, c) => collectScoped(c, newBase, m))
    case _ => acc
  }

  /** RFC3986 reference resolution; empty base leaves the ref untouched
    * (single-document schemas keep their local "#..." form). */
  private[graft] def resolveUri(base: String, ref: String): String =
    if (base.isEmpty) ref
    else if (ref.isEmpty) base
    else try new java.net.URI(base).resolve(new java.net.URI(ref)).toString
    catch { case _: Exception => ref }

  private def stripFragment(uri: String): String = {
    val i = uri.indexOf('#')
    if (i < 0) uri else uri.take(i)
  }

  /** Absolutize a `$ref`/`$dynamicRef` value against the in-scope base. */
  private def absolutizeRef(base: String, ref: String): String =
    if (base.isEmpty) ref else resolveUri(base, ref)

  /** Child subschemas of a raw schema object, in document order — ONLY
    * schema positions. `const`/`enum`/`default`/annotation payloads are DATA:
    * a "$id"/"$anchor" string inside them must not register resources or
    * anchors (the reference's resolveIDs walks schema positions only,
    * builder.go:149-224). */
  private def childSchemas(o: JObject): Seq[JValue] = o.obj.flatMap {
    case (k, v) => k match {
      // draft-7 array-form items: each element is a schema position
      case "items" => v match { case JArray(xs) => xs; case s => Seq(s) }
      case "contains" | "additionalProperties" | "propertyNames" |
           "not" | "if" | "then" | "else" | "unevaluatedProperties" |
           "unevaluatedItems" | "contentSchema" | "additionalItems" => Seq(v)
      case "properties" | "patternProperties" | "dependentSchemas" |
           "$defs" | "definitions" =>
        v match { case m: JObject => m.obj.map(_._2); case _ => Nil }
      case "prefixItems" | "allOf" | "anyOf" | "oneOf" =>
        v match { case JArray(xs) => xs; case _ => Nil }
      case "dependencies" => // draft-7: schema form only (array form = strings)
        v match { case m: JObject => m.obj.map(_._2).filter(_.isInstanceOf[JObject]); case _ => Nil }
      case _ => Nil
    }
  }

  /** Pre-order walk over SCHEMA positions collecting `$anchor` /
    * `$dynamicAnchor` names. First occurrence wins, so the OUTERMOST anchor
    * shadows inner ones — the static analogue of the dynamic-scope rule
    * (validate.go:138-142). */
  private def collectAnchors(v: JValue, key: String, base: String,
      acc: Map[String, (JValue, String)]): Map[String, (JValue, String)] = v match {
    case o: JObject =>
      val newBase = o \ "$id" match {
        case JString(id) => resolveUri(base, stripFragment(id))
        case _ => base
      }
      val here = o \ key match {
        case JString(a) if !acc.contains(a) => acc + (a -> ((o, newBase)))
        case _ => acc
      }
      childSchemas(o).foldLeft(here)((m, c) => collectAnchors(c, key, newBase, m))
    case _ => acc
  }

  def parseNode(v: JValue): SchemaNode = parseNode(v, "", Dialects.draft202012)

  def parseNode(v: JValue, base: String): SchemaNode =
    parseNode(v, base, Dialects.draft202012)

  /** Parse under a base URI and dialect: a subschema `$id` re-bases its
    * children, `$ref`/`$dynamicRef` values absolutize against the in-scope
    * base (so the compiled RefK needs no positional context at resolution
    * time), and the document's `$schema`-selected dialect governs keyword
    * parsing throughout. */
  def parseNode(v: JValue, base: String, d: Dialect): SchemaNode = v match {
    case JBool(b) => BoolSchema(b)
    case o: JObject =>
      val newBase = o \ "$id" match {
        case JString(id) => resolveUri(base, stripFragment(id))
        case _ => base
      }
      val kws = o.obj.iterator.flatMap { case (k, jv) => parseKeyword(k, jv, newBase, d, o) }.toVector
      ObjSchema(kws)
    case other =>
      throw new IllegalArgumentException(s"schema must be object or boolean, got $other")
  }

  private def num(v: JValue): Double = v match {
    case JInt(i) => i.toDouble
    case JLong(l) => l.toDouble
    case JDouble(d) => d
    case JDecimal(d) => d.toDouble
    case other => throw new IllegalArgumentException(s"expected number, got $other")
  }
  private def int(v: JValue): Long = v match {
    case JInt(i) => i.toLong
    case JLong(l) => l
    case JDouble(d) if d.isWhole => d.toLong
    case JDecimal(d) if d.isWhole => d.toLong
    case other => throw new IllegalArgumentException(s"expected integer, got $other")
  }
  private def str(v: JValue): String = v match {
    case JString(s) => s
    case other => throw new IllegalArgumentException(s"expected string, got $other")
  }
  private def strings(v: JValue): List[String] = v match {
    case JArray(items) => items.map(str)
    case other => throw new IllegalArgumentException(s"expected string array, got $other")
  }
  private def schemas(v: JValue, base: String, d: Dialect): Vector[SchemaNode] = v match {
    case JArray(items) => items.map(parseNode(_, base, d)).toVector
    case other => throw new IllegalArgumentException(s"expected schema array, got $other")
  }

  /** One keyword → zero-or-one typed Keyword. The document dialect's
    * overrides are consulted first (draft-7 array `items`/`additionalItems`);
    * unknown keywords are retained as always-valid annotations, matching
    * schema.go:521-532. */
  private def parseKeyword(k: String, v: JValue, base: String,
                           d: Dialect, siblings: JObject): Option[Keyword] = {
    d.overrides(k, v, base, siblings) match {
      case some @ Some(_) => return some
      case None => ()
    }
    Some(k match {
    case "type" => v match {
      case JString(s) => TypeK(Set(s))
      case JArray(items) => TypeK(items.map(str).toSet)
      case other => throw new IllegalArgumentException(s"bad type arg: $other")
    }
    case "enum" => v match {
      case JArray(items) => EnumK(items)
      case other => throw new IllegalArgumentException(s"bad enum arg: $other")
    }
    case "const" => ConstK(v)
    case "minimum" => MinimumK(num(v))
    case "maximum" => MaximumK(num(v))
    case "exclusiveMinimum" => ExclusiveMinimumK(num(v))
    case "exclusiveMaximum" => ExclusiveMaximumK(num(v))
    case "multipleOf" => MultipleOfK(num(v))
    case "minLength" => MinLengthK(int(v))
    case "maxLength" => MaxLengthK(int(v))
    case "pattern" => PatternK(str(v))
    case "format" => FormatK(str(v))
    case "default" => DefaultK(v)
    case "items" => ItemsK(parseNode(v, base, d))
    case "prefixItems" => PrefixItemsK(schemas(v, base, d))
    case "contains" => ContainsK(parseNode(v, base, d))
    case "minContains" => MinContainsK(int(v))
    case "maxContains" => MaxContainsK(int(v))
    case "minItems" => MinItemsK(int(v))
    case "maxItems" => MaxItemsK(int(v))
    case "uniqueItems" => UniqueItemsK(v match {
      case JBool(b) => b
      case other => throw new IllegalArgumentException(s"bad uniqueItems: $other")
    })
    case "properties" => v match {
      case o: JObject => PropertiesK(o.obj.map { case (n, s) => n -> parseNode(s, base, d) }.toVector)
      case other => throw new IllegalArgumentException(s"bad properties: $other")
    }
    case "patternProperties" => v match {
      case o: JObject => PatternPropertiesK(o.obj.map { case (n, s) => n -> parseNode(s, base, d) }.toVector)
      case other => throw new IllegalArgumentException(s"bad patternProperties: $other")
    }
    case "additionalProperties" => AdditionalPropertiesK(parseNode(v, base, d))
    case "propertyNames" => PropertyNamesK(parseNode(v, base, d))
    case "required" => RequiredK(strings(v))
    case "dependentRequired" => v match {
      case o: JObject => DependentRequiredK(o.obj.map { case (n, l) => n -> strings(l) }.toVector)
      case other => throw new IllegalArgumentException(s"bad dependentRequired: $other")
    }
    case "dependentSchemas" => v match {
      case o: JObject => DependentSchemasK(o.obj.map { case (n, s) => n -> parseNode(s, base, d) }.toVector)
      case other => throw new IllegalArgumentException(s"bad dependentSchemas: $other")
    }
    // draft-7 `dependencies`: list form = dependentRequired, schema form =
    // dependentSchemas (validator.go:1299-1342)
    case "dependencies" => v match {
      case o: JObject =>
        val (reqs, schs) = o.obj.partition { case (_, JArray(_)) => true; case _ => false }
        if (schs.isEmpty) DependentRequiredK(reqs.map { case (n, l) => n -> strings(l) }.toVector)
        else if (reqs.isEmpty) DependentSchemasK(schs.map { case (n, s) => n -> parseNode(s, base, d) }.toVector)
        else return Some(AllOfLike(
          DependentRequiredK(reqs.map { case (n, l) => n -> strings(l) }.toVector),
          DependentSchemasK(schs.map { case (n, s) => n -> parseNode(s, base, d) }.toVector)))
      case other => throw new IllegalArgumentException(s"bad dependencies: $other")
    }
    case "minProperties" => MinPropertiesK(int(v))
    case "maxProperties" => MaxPropertiesK(int(v))
    case "allOf" => AllOfK(schemas(v, base, d))
    case "anyOf" => AnyOfK(schemas(v, base, d))
    case "oneOf" => OneOfK(schemas(v, base, d))
    case "not" => NotK(parseNode(v, base, d))
    case "if" => IfK(parseNode(v, base, d))
    case "then" => ThenK(parseNode(v, base, d))
    case "else" => ElseK(parseNode(v, base, d))
    case "$ref" => RefK(absolutizeRef(base, str(v)))
    case "$dynamicRef" => DynamicRefK(absolutizeRef(base, str(v)))
    case "unevaluatedProperties" => UnevaluatedPropertiesK(parseNode(v, base, d))
    case "unevaluatedItems" => UnevaluatedItemsK(parseNode(v, base, d))
    // identifier / annotation keywords: always valid (keywords.go:20-75,337-412)
    case other => AnnotationK(other, v)
  })
  }

  /** Helper for draft-7 `dependencies` carrying both forms. */
  private def AllOfLike(a: Keyword, b: Keyword): Keyword =
    AllOfK(Vector(ObjSchema(Vector(a)), ObjSchema(Vector(b))))

  /** RFC6901 JSON-Pointer over a JValue (mirrors pkg/jsonpointer). */
  def jsonPointer(root: JValue, pointer: String): JValue =
    jsonPointerWithBase(root, "", pointer)._1

  /** JSON-pointer dereference that TRACKS `$id` re-basing along the descent:
    * a pointer crossing an embedded-resource boundary (a subschema whose
    * `$id` is e.g. a relative folder, the official suite's baseUriChange
    * shape) must hand back that resource's base, or relative `$ref`s inside
    * the target resolve against the outer document (the reference's
    * resolveIDs walk assigns every subschema its in-scope base,
    * builder.go:149-224). Only a JString `$id` on a traversed object
    * re-bases, so non-schema containers (a property literally named "$id"
    * maps to an object, not a string) cannot corrupt the base. */
  private[graft] def jsonPointerWithBase(root: JValue, base0: String,
                                         pointer: String): (JValue, String) = {
    def baseAt(v: JValue, base: String): String = v match {
      case o: JObject => o \ "$id" match {
        case JString(id) => resolveUri(base, stripFragment(id))
        case _ => base
      }
      case _ => base
    }
    // the entry node's own $id is already reflected in base0 (the caller
    // resolved the resource URI) — only DESCENDED nodes re-base, else a
    // relative root $id would resolve against itself twice
    //
    // Pointers arrive as URI fragments, so RFC 6901 §6 order applies:
    // percent-decode the WHOLE fragment first (a key containing '/' was
    // ~1-escaped at the pointer layer before URI-encoding, so decoding
    // cannot create spurious separators), THEN split and ~-decode tokens.
    val pointer1 = pctDecode(pointer)
    if (pointer1.isEmpty) return (root, base0)
    require(pointer1.startsWith("/"), s"bad pointer: $pointer1")
    pointer1.drop(1).split("/", -1).foldLeft((root, base0)) {
      case ((cur, base), rawTok) =>
        val tok = rawTok.replace("~1", "/").replace("~0", "~")
        val next = cur match {
          case o: JObject => o.obj.collectFirst { case (k, v) if k == tok => v }
            .getOrElse(throw new IllegalArgumentException(s"pointer $pointer1: no key '$tok'"))
          case JArray(items) => items(tok.toInt)
          case other => throw new IllegalArgumentException(s"pointer $pointer1 into non-container $other")
        }
        (next, baseAt(next, base))
    }
  }

  /** RFC 3986 percent-decoding for URI-fragment pointers: only well-formed
    * %XX triplets decode (UTF-8 byte sequences supported); anything else
    * passes through verbatim — lenient, because in-document refs are often
    * written unencoded ('%' as a literal). NOT URLDecoder: that would also
    * turn '+' into a space. */
  private def pctDecode(s: String): String = {
    if (s.indexOf('%') < 0) return s
    def hex(c: Char): Int = Character.digit(c, 16)
    val bytes = new java.io.ByteArrayOutputStream(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          hex(s.charAt(i + 1)) >= 0 && hex(s.charAt(i + 2)) >= 0) {
        bytes.write((hex(s.charAt(i + 1)) << 4) | hex(s.charAt(i + 2))); i += 3
      } else {
        val enc = c.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        bytes.write(enc, 0, enc.length); i += 1
      }
    }
    new String(bytes.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
  }
}
