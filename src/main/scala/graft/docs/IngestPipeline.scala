package graft.docs

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** ES ingest pipelines — the index-time processor chain (`PUT
  * _ingest/pipeline/...` + `?pipeline=` on writes). Each processor is one
  * document rewrite; the whole pipeline compiles to ONE composed column
  * expression (a fold of schema-aware struct rebuilds — the
  * BulkByQuery.setField machinery), so a million-doc ingest batch pays a
  * single codegen'd projection, not a per-processor pass.
  *
  * Supported processors: `set` (literal), `lowercase`/`uppercase`/`trim`,
  * `gsub` (regex replace), `remove` (nulls the leaf — the typed-struct
  * reading of ES's key drop), `script` (the d175 single-assignment
  * Painless subset), and the SCHEMA-EVOLVING family: `convert` (retypes
  * the leaf — the pipeline threads the evolved StructType so every LATER
  * processor validates against the post-convert shape), `date` (parses a
  * string field with the declared formats tried in order — ES semantics,
  * via try_to_timestamp+coalesce — into a TIMESTAMP `target_field`, ADDED
  * to the parent struct when absent; default `@timestamp`), `rename`
  * (moves the leaf — target must not exist, the ES rule), `split`
  * (string → array<string> on a regex separator), and `grok`/`dissect`
  * (the log-parsing pair — Esql's shared pattern translators; each
  * extracted key lands as a NEW ROOT string leaf, ES's default placement,
  * and later processors validate against the grown schema), and `json`
  * (JSON-string leaf → typed struct via a declared `graft_schema` — the
  * documented deviation from ES's dynamic inference). Unknown processors
  * and option keys reject loudly; `if` conditions are not implemented
  * (reject, never silently run unconditionally). */
object IngestPipeline {

  sealed trait Processor { def path: Seq[String] }
  final case class SetLit(path: Seq[String], value: String) extends Processor
  final case class MapStr(path: Seq[String], kind: String) extends Processor
  final case class Gsub(path: Seq[String], pattern: String, replacement: String)
    extends Processor
  final case class Remove(path: Seq[String]) extends Processor
  final case class Script(us: BulkByQuery.UpdateScript) extends Processor {
    def path: Seq[String] = us.path
  }
  final case class Convert(path: Seq[String], to: DataType) extends Processor
  final case class DateProc(src: Seq[String], path: Seq[String],
                            formats: Seq[String]) extends Processor
  final case class Rename(src: Seq[String], path: Seq[String]) extends Processor
  final case class SplitProc(path: Seq[String], separator: String) extends Processor
  /** grok/dissect: one source string leaf → one NEW ROOT string leaf per
    * extracted key (the ES default placement), all from one compiled
    * regex — `keys(i)` is regex group `i+1`. */
  final case class GrokProc(src: Seq[String], regex: String,
                            keys: Seq[String]) extends Processor {
    def path: Seq[String] = src
  }
  final case class DissectProc(src: Seq[String], regex: String,
                               keys: Seq[String]) extends Processor {
    def path: Seq[String] = src
  }
  /** `json`: parse a JSON-string leaf into a TYPED struct at `path`
    * (default: in place, the ES default). DOCUMENTED DEVIATION: ES infers
    * the parsed shape dynamically; a statically-typed engine needs it
    * declared, so the processor takes a `graft_schema` map of leaf name →
    * convert type. Malformed JSON parses to null (from_json semantics)
    * rather than failing the batch. */
  final case class JsonProc(src: Seq[String], path: Seq[String],
                            target: StructType) extends Processor

  private val ConvertTypes: Map[String, DataType] = Map(
    "integer" -> IntegerType, "long" -> LongType, "float" -> FloatType,
    "double" -> DoubleType, "string" -> StringType, "boolean" -> BooleanType)

  /** The pipeline's schema evolution for one processor: `convert` retypes
    * its leaf, `date` adds-or-retypes its target leaf, everything else is
    * shape-preserving. */
  private def evolve(schema: StructType, p: Processor): StructType = p match {
    case Convert(path, to) => withLeaf(schema, path, to)
    case DateProc(_, path, _) => withLeaf(schema, path, TimestampType)
    case Rename(src, path) =>
      dropLeafType(withLeaf(schema, path, leafTypeOf(schema, src)), src)
    case SplitProc(path, _) => withLeaf(schema, path, ArrayType(StringType))
    case GrokProc(_, _, keys) =>
      keys.foldLeft(schema)((s, k) => withLeaf(s, Seq(k), StringType))
    case DissectProc(_, _, keys) =>
      keys.foldLeft(schema)((s, k) => withLeaf(s, Seq(k), StringType))
    case JsonProc(_, path, target) => withLeaf(schema, path, target)
    case _ => schema
  }

  private def leafTypeOf(schema: StructType, path: Seq[String]): DataType =
    path.foldLeft(schema: DataType) {
      case (st: StructType, f) => st(f).dataType
      case (other, f) => throw new IllegalArgumentException(
        s"$f is inside non-struct $other")
    }

  /** `schema` without the leaf at `path`. */
  private def dropLeafType(schema: StructType, path: Seq[String]): StructType =
    path match {
      case Seq(leaf) => StructType(schema.fields.filterNot(_.name == leaf))
      case head +: rest =>
        val sub = schema(head).dataType.asInstanceOf[StructType]
        StructType(schema.fields.map(f =>
          if (f.name == head) StructField(head, dropLeafType(sub, rest), f.nullable)
          else f))
      case _ => throw new IllegalArgumentException("empty processor path")
    }

  /** `schema` with the leaf at `path` replaced by (or, at the last level,
    * appended as) type `dt`. */
  private def withLeaf(schema: StructType, path: Seq[String], dt: DataType): StructType =
    path match {
      case Seq(leaf) =>
        if (schema.fieldNames.contains(leaf))
          StructType(schema.fields.map(f =>
            if (f.name == leaf) StructField(leaf, dt, nullable = true) else f))
        else StructType(schema.fields :+ StructField(leaf, dt, nullable = true))
      case head +: rest =>
        val sub = schema(head).dataType match {
          case st: StructType => st
          case other => throw new IllegalArgumentException(
            s"$head is inside non-struct $other")
        }
        StructType(schema.fields.map(f =>
          if (f.name == head) StructField(head, withLeaf(sub, rest, dt), f.nullable)
          else f))
      case _ => throw new IllegalArgumentException("empty processor path")
    }


  def parse(body: String, schema: StructType): Seq[Processor] =
    parseEvolving(body, schema)._1

  /** Parse + VALIDATE the chain against the evolving schema (a `gsub`
    * after a long→string `convert` is legal; the same gsub before it
    * rejects). Returns the processors and the post-pipeline schema. */
  def parseEvolving(body: String, schema0: StructType): (Seq[Processor], StructType) = {
    val schema = schema0 // parse-time validation threads `sch` below
    import org.json4s._
    val root = Lex.bodyObject("pipeline", body)
    val unknown = root.keySet -- Set("description", "processors")
    require(unknown.isEmpty, s"unsupported pipeline key(s): ${unknown.mkString(", ")}")
    val procs = root.get("processors") match {
      case Some(JArray(ps)) => ps
      case other => throw new IllegalArgumentException(s"pipeline needs processors: $other")
    }
    def opts(kind: String, j: JValue, allowed: Set[String]): Map[String, JValue] = j match {
      case JObject(fs) =>
        val m = fs.toMap
        val u = m.keySet -- allowed
        require(u.isEmpty, s"unsupported $kind option(s): ${u.mkString(", ")}")
        m
      case other => throw new IllegalArgumentException(s"bad $kind processor: $other")
    }
    def fieldOf(sch: StructType, kind: String, m: Map[String, JValue],
                strLeaf: Boolean): Seq[String] = {
      val p = m.get("field") match {
        case Some(JString(f)) => f.split('.').toSeq
        case other => throw new IllegalArgumentException(s"$kind needs field: $other")
      }
      val (arr, _) = SearchQuery.splitArrayPath(p, sch)
      require(arr.isEmpty, s"$kind on array path ${p.mkString(".")} is not implemented")
      val lt = SearchQuery.leafType(p, sch, kind)
      if (strLeaf) require(lt == StringType, s"$kind needs a string field, got $lt")
      p
    }
    val (out, schOut) = procs.foldLeft((Vector.empty[Processor], schema)) {
      case ((acc, sch), jproc) =>
        val p = jproc match {
          case JObject(List(("set", spec))) =>
            val m = opts("set", spec, Set("field", "value"))
            val v = m.get("value") match {
              case Some(JString(v0)) => v0
              case other => throw new IllegalArgumentException(
                s"set needs a string value (typed leaves go through script): $other")
            }
            SetLit(fieldOf(sch, "set", m, strLeaf = true), v)
          case JObject(List((kind @ ("lowercase" | "uppercase" | "trim"), spec))) =>
            MapStr(fieldOf(sch, kind, opts(kind, spec, Set("field")), strLeaf = true), kind)
          case JObject(List(("gsub", spec))) =>
            val m = opts("gsub", spec, Set("field", "pattern", "replacement"))
            (m.get("pattern"), m.get("replacement")) match {
              case (Some(JString(p0)), Some(JString(r0))) =>
                Gsub(fieldOf(sch, "gsub", m, strLeaf = true), p0, r0)
              case other => throw new IllegalArgumentException(
                s"gsub needs pattern + replacement: $other")
            }
          case JObject(List(("remove", spec))) =>
            Remove(fieldOf(sch, "remove", opts("remove", spec, Set("field")),
              strLeaf = false))
          case JObject(List(("script", spec))) =>
            val m = opts("script", spec, Set("source"))
            m.get("source") match {
              case Some(JString(src)) => Script(BulkByQuery.parseUpdateScript(src, sch))
              case other => throw new IllegalArgumentException(s"script needs source: $other")
            }
          case JObject(List(("convert", spec))) =>
            val m = opts("convert", spec, Set("field", "type"))
            val to = m.get("type") match {
              case Some(JString(t)) => ConvertTypes.getOrElse(t,
                throw new IllegalArgumentException(
                  s"unsupported convert type: $t (${ConvertTypes.keys.toSeq.sorted.mkString("/")})"))
              case other => throw new IllegalArgumentException(s"convert needs type: $other")
            }
            Convert(fieldOf(sch, "convert", m, strLeaf = false), to)
          case JObject(List(("date", spec))) =>
            val m = opts("date", spec, Set("field", "formats", "target_field"))
            val src = fieldOf(sch, "date", m, strLeaf = true)
            val fmts = m.get("formats") match {
              case Some(JArray(fs)) if fs.nonEmpty => fs.map {
                case JString(f) => f
                case other => throw new IllegalArgumentException(s"bad date format: $other")
              }
              case other => throw new IllegalArgumentException(s"date needs formats: $other")
            }
            val tgt = m.get("target_field") match {
              case None => Seq("@timestamp") // the ES default
              case Some(JString(t)) => t.split('.').toSeq
              case Some(other) => throw new IllegalArgumentException(s"bad target_field: $other")
            }
            // the target's PARENT must exist as a struct; the leaf may be new
            tgt.dropRight(1).foldLeft(sch: DataType) {
              case (st: StructType, f) => st.fields.find(_.name == f).map(_.dataType)
                .getOrElse(throw new IllegalArgumentException(
                  s"date target_field parent $f not found"))
              case (other, f) => throw new IllegalArgumentException(
                s"date target_field: $f inside non-struct $other")
            }
            DateProc(src, tgt, fmts)
          case JObject(List(("rename", spec))) =>
            val m = opts("rename", spec, Set("field", "target_field"))
            val src = fieldOf(sch, "rename", m, strLeaf = false)
            val tgt = m.get("target_field") match {
              case Some(JString(t)) => t.split('.').toSeq
              case other => throw new IllegalArgumentException(
                s"rename needs target_field: $other")
            }
            // ES rename fails when the target already exists; the parent
            // must exist as a struct (same rule as date)
            val parent = tgt.dropRight(1).foldLeft(sch: DataType) {
              case (st: StructType, f) => st.fields.find(_.name == f).map(_.dataType)
                .getOrElse(throw new IllegalArgumentException(
                  s"rename target_field parent $f not found"))
              case (other, f) => throw new IllegalArgumentException(
                s"rename target_field: $f inside non-struct $other")
            }
            parent match {
              case st: StructType => require(!st.fieldNames.contains(tgt.last),
                s"rename target_field ${tgt.mkString(".")} already exists (the ES rule)")
              case other => throw new IllegalArgumentException(
                s"rename target_field parent is non-struct $other")
            }
            Rename(src, tgt)
          case JObject(List(("split", spec))) =>
            val m = opts("split", spec, Set("field", "separator"))
            val sep = m.get("separator") match {
              case Some(JString(x)) => x
              case other => throw new IllegalArgumentException(
                s"split needs separator: $other")
            }
            SplitProc(fieldOf(sch, "split", m, strLeaf = true), sep)
          case JObject(List(("grok", spec))) =>
            val m = opts("grok", spec, Set("field", "patterns"))
            val pat = m.get("patterns") match {
              case Some(JArray(List(JString(p0)))) => p0
              case other => throw new IllegalArgumentException(
                s"grok needs patterns: exactly one pattern (the implemented subset): $other")
            }
            val (rx, keys) = Esql.grokToRegex(pat)
            GrokProc(fieldOf(sch, "grok", m, strLeaf = true), rx, keys)
          case JObject(List(("dissect", spec))) =>
            val m = opts("dissect", spec, Set("field", "pattern"))
            val pat = m.get("pattern") match {
              case Some(JString(p0)) => p0
              case other => throw new IllegalArgumentException(
                s"dissect needs pattern: $other")
            }
            val (rx, keys) = Esql.dissectToRegex(pat)
            DissectProc(fieldOf(sch, "dissect", m, strLeaf = true), rx, keys)
          case JObject(List(("json", spec))) =>
            val m = opts("json", spec, Set("field", "target_field", "graft_schema"))
            val src = fieldOf(sch, "json", m, strLeaf = true)
            val tgt = m.get("target_field") match {
              case None => src // the ES default: replace the field in place
              case Some(JString(t)) => t.split('.').toSeq
              case Some(other) => throw new IllegalArgumentException(
                s"bad target_field: $other")
            }
            val target = m.get("graft_schema") match {
              case Some(JObject(fs)) if fs.nonEmpty => StructType(fs.map {
                case (k, JString(t)) => StructField(k, ConvertTypes.getOrElse(t,
                  throw new IllegalArgumentException(
                    s"unsupported graft_schema type $t for $k")), nullable = true)
                case (k, other) => throw new IllegalArgumentException(
                  s"graft_schema values must be type names: $k -> $other")
              })
              case other => throw new IllegalArgumentException(
                "json needs graft_schema (DOCUMENTED DEVIATION: ES infers the " +
                  s"parsed shape dynamically; a typed engine needs it declared): $other")
            }
            // the target's parent must exist as a struct (same rule as date)
            tgt.dropRight(1).foldLeft(sch: DataType) {
              case (st: StructType, f) => st.fields.find(_.name == f).map(_.dataType)
                .getOrElse(throw new IllegalArgumentException(
                  s"json target_field parent $f not found"))
              case (other, f) => throw new IllegalArgumentException(
                s"json target_field: $f inside non-struct $other")
            }
            JsonProc(src, tgt, target)
          case JObject(List((kind, _))) =>
            throw new IllegalArgumentException(s"unsupported processor: $kind")
          case other => throw new IllegalArgumentException(s"bad processor entry: $other")
        }
        (acc :+ p, evolve(sch, p))
    }
    (out, schOut)
  }

  /** The whole pipeline as one composed doc rewrite (shape-preserving
    * callers — the result column's type is `applyEvolving`'s schema). */
  def apply(doc: Column, schema: StructType, procs: Seq[Processor]): Column =
    applyEvolving(doc, schema, procs)._1

  /** The pipeline as one composed rewrite WITH schema evolution: each
    * processor's value type wins in the struct rebuild (convert retypes,
    * date appends), and later processors read the evolved shape. */
  def applyEvolving(doc: Column, schema0: StructType,
                    procs: Seq[Processor]): (Column, StructType) =
    procs.foldLeft((doc, schema0)) { case ((c, sch), p) =>
      def cur(path: Seq[String]): Column = path.foldLeft(c)((x, f) => x.getField(f))
      def leafType(path: Seq[String]): DataType = path.foldLeft(sch: DataType) {
        case (st: StructType, f) => st(f).dataType
        case (other, f) => throw new IllegalArgumentException(s"$f inside non-struct $other")
      }
      // grok/dissect add ALL their keys in ONE root struct rebuild (all
      // groups of one regex). One rebuild per key would nest a full-doc
      // struct expression per key — each level multiplies the Catalyst
      // tree by the doc schema size (7.3 s vs 0.2 s for d215's 4 keys at
      // sf0.1). The extraction reads the PRE-processor doc so a key may
      // safely shadow the source field.
      p match {
        case GrokProc(src, rx, keys) =>
          val srcCol = cur(src)
          addRootLeaves(c, sch, keys.zipWithIndex.map { case (k, i) =>
            (k, regexp_extract(srcCol, rx, i + 1))
          })
        case DissectProc(src, rx, keys) =>
          val srcCol = cur(src)
          addRootLeaves(c, sch, keys.zipWithIndex.map { case (k, i) =>
            (k, regexp_extract(srcCol, rx, i + 1))
          })
        case _ => applyOne(c, sch, p, cur, leafType)
      }
    }

  /** One shape-local processor → one struct rebuild (the pre-grok body of
    * the applyEvolving fold). */
  private def applyOne(c: Column, sch: StructType, p: Processor,
                       cur: Seq[String] => Column,
                       leafType: Seq[String] => DataType): (Column, StructType) = {
      val (path, v, vt): (Seq[String], Column, DataType) = p match {
        case SetLit(pt, value) => (pt, lit(value), StringType)
        case MapStr(pt, "lowercase") => (pt, lower(cur(pt)), StringType)
        case MapStr(pt, "uppercase") => (pt, upper(cur(pt)), StringType)
        case MapStr(pt, _) => (pt, trim(cur(pt)), StringType)
        case Gsub(pt, pat, rep) => (pt, regexp_replace(cur(pt), pat, rep), StringType)
        case Remove(pt) =>
          val lt = leafType(pt); (pt, lit(null).cast(lt), lt)
        case Script(us) =>
          val lt = leafType(us.path)
          (us.path, SearchQuery.compileScriptWith(us.expr,
            pth => pth.foldLeft(c)((x, f) => x.getField(f)),
            lit(null).cast("double")).cast(lt), lt)
        case Convert(pt, to) => (pt, cur(pt).cast(to), to)
        case DateProc(src, tgt, fmts) =>
          // formats tried IN ORDER, first parse wins (the ES contract):
          // try_to_timestamp nulls a non-matching format instead of
          // failing the batch under ANSI mode
          (tgt, coalesce(fmts.map(f => try_to_timestamp(cur(src), lit(f))): _*),
            TimestampType)
        case Rename(src, tgt) =>
          // handled below: add target (source's value + type), drop source
          (tgt, cur(src), leafTypeOf(sch, src))
        case SplitProc(pt, sep) => (pt, split(cur(pt), sep), ArrayType(StringType))
        case JsonProc(src, tgt, target) => (tgt, from_json(cur(src), target), target)
        case other => throw new IllegalStateException(
          s"multi-leaf processor $other must not reach applyOne")
      }
      val (c2, sch2) = rebuild(c, path, v, vt, sch)
      p match {
        case Rename(src, _) => dropLeaf(c2, src, sch2)
        case _ => (c2, sch2)
      }
    }

  /** Struct rebuild dropping the leaf at `path` — rename's second half. */
  private def dropLeaf(root: Column, path: Seq[String],
                       schema: StructType): (Column, StructType) =
    path match {
      case Seq(leaf) =>
        val newSchema = StructType(schema.fields.filterNot(_.name == leaf))
        (struct(newSchema.fields.toSeq.map(f =>
          root.getField(f.name).as(f.name)): _*), newSchema)
      case head +: rest =>
        val sub = schema(head).dataType.asInstanceOf[StructType]
        val (c2, t2) = dropLeaf(root.getField(head), rest, sub)
        val newSchema = StructType(schema.fields.map(f =>
          if (f.name == head) StructField(head, t2, f.nullable) else f))
        (struct(newSchema.fields.toSeq.map { f =>
          (if (f.name == head) c2 else root.getField(f.name)).as(f.name)
        }: _*), newSchema)
      case _ => throw new IllegalArgumentException("empty processor path")
    }

  /** Struct rebuild WITHOUT `setField`'s cast-to-declared-type: the
    * value's own type wins (schema evolution), and a new last-segment
    * leaf APPENDS to its parent struct. One codegen'd expression per
    * schema node, like the MergePatch shape. */
  /** Replace-or-append STRING leaves at the ROOT in one struct build —
    * grok/dissect's multi-key placement (ES overwrite semantics on
    * collision). */
  private def addRootLeaves(root: Column, schema: StructType,
                            adds: Seq[(String, Column)]): (Column, StructType) = {
    val byName = adds.toMap
    val kept = schema.fields.toSeq.map { f =>
      byName.get(f.name) match {
        case Some(v) => (StructField(f.name, StringType, nullable = true), v.as(f.name))
        case None => (f, root.getField(f.name).as(f.name))
      }
    }
    val appended = adds.filterNot { case (k, _) => schema.fieldNames.contains(k) }
      .map { case (k, v) => (StructField(k, StringType, nullable = true), v.as(k)) }
    val all = kept ++ appended
    (struct(all.map(_._2): _*), StructType(all.map(_._1)))
  }

  private def rebuild(root: Column, path: Seq[String], value: Column,
                      vt: DataType, schema: StructType): (Column, StructType) =
    path match {
      case Seq(leaf) =>
        val newSchema = withLeaf(schema, Seq(leaf), vt)
        val c = struct(newSchema.fields.toSeq.map { f =>
          (if (f.name == leaf) value else root.getField(f.name)).as(f.name)
        }: _*)
        (c, newSchema)
      case head +: rest =>
        val sub = schema(head).dataType match {
          case st: StructType => st
          case other => throw new IllegalArgumentException(
            s"$head is inside non-struct $other")
        }
        val (c2, t2) = rebuild(root.getField(head), rest, value, vt, sub)
        val newSchema = StructType(schema.fields.map(f =>
          if (f.name == head) StructField(head, t2, f.nullable) else f))
        val c = struct(newSchema.fields.toSeq.map { f =>
          (if (f.name == head) c2 else root.getField(f.name)).as(f.name)
        }: _*)
        (c, newSchema)
      case _ => throw new IllegalArgumentException("empty update path")
    }
}
