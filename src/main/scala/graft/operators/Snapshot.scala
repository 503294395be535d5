package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.StructType
import org.roaringbitmap.longlong.Roaring64NavigableMap

/** Poor-man's ACID table commits over plain parquet, on Delta's log
  * protocol (Armbrust et al., VLDB 2020, §3): version N IS its log
  * entry, `_log/v=N.json` ([[Meta]]) — the version's metadata and an
  * action per live data file with the file's stats and its deletion
  * vector. A reader opens that entry and the files it names, nothing
  * else; superseded versions stay readable by number or
  * instant — [[readVersion]], [[readAsOf]] — until [[vacuum]] collects
  * them.
  *
  * The commit is ONE put-if-absent of the complete entry at `head+1`
  * ([[graft.util.Lease.createExclusive]]: a link of a whole temp file on
  * the local FS, a no-overwrite rename on HDFS). Whoever creates the
  * file owns the version, so versions are dense (1..head): nobody can
  * put N+1 before N exists. A commit first writes its data into a
  * directory private to the attempt, `_data/<uuid>`, never shared with a
  * racing writer, then puts. A lost put means a live writer committed:
  * read-modify-write commits drop their attempt and replan on the new
  * head (so they are serializable); blind commits keep it and re-put on
  * top of the winner when the head still binds their batch the same
  * way (so they are last-writer-wins, and no row is written twice).
  * `_CURRENT` is a HINT, rewritten after the put: [[currentVersion]]
  * probes the entries above it, so a stale or missing hint makes a read
  * slower, never wrong.
  *
  * Crash anatomy (proven in SnapshotSpec):
  *  - crash before the put → the attempt directory is named by no entry;
  *    readers never list, so it is invisible, the next commit puts the
  *    same version number on top of the old head at once (nothing waits
  *    for the dead writer), and [[vacuum]] collects the directory once
  *    it is older than its retention.
  *  - crash after the put, before the hint → committed: the probe finds
  *    the entry.
  *  - the put itself is atomic: an entry is never seen partly written.
  *
  * Reference had no table format at all (overwrite-only,
  * `server.py:53-54`); this gives the MERGE/CDC operators (`of4`/`of5`
  * shapes) snapshot-isolated commits without any new dependency.
  */
object Snapshot {
  private val Pointer = "_CURRENT"

  private def fsOf(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The live version, or None for an empty/new table: the `_CURRENT`
    * hint, then a probe of the entries above it until one is absent —
    * one `exists` when the hint is fresh. Entries are never deleted
    * ([[vacuum]] shrinks a collected one to its header), so the probe
    * never stops at a gap. */
  def currentVersion(spark: SparkSession, root: String): Option[Long] = {
    val ptr = new org.apache.hadoop.fs.Path(root, Pointer)
    val fs = fsOf(spark, ptr)
    var v =
      try {
        val in = fs.open(ptr)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
        finally in.close()
      } catch { case _: java.io.FileNotFoundException => 0L }
    while (isFile(fs, recordPath(root, v + 1))) v += 1
    Option.when(v > 0)(v)
  }

  private def isFile(fs: org.apache.hadoop.fs.FileSystem,
                     p: org.apache.hadoop.fs.Path): Boolean =
    try fs.getFileStatus(p).isFile
    catch { case _: java.io.FileNotFoundException => false }

  /** How a file action names a listed file: the decoded path, in the
    * `file:///x` spelling on the local FS, whose `Path.toString` prints
    * `file:/x` (schemes with an authority, e.g. `hdfs://nn/x`, pass
    * through). File actions and bloom payload rows use this form; a
    * scan names a file by [[scanForm]]. */
  private[graft] def canonFile(p: org.apache.hadoop.fs.Path): String = {
    val s = p.toString
    if (s.startsWith("file:/") && !s.startsWith("file://"))
      "file://" + s.stripPrefix("file:")
    else s
  }

  /** How a parquet scan's `_metadata.file_path` names the file of
    * action path `path` ([[canonFile]] form): the URI-encoded path
    * (`a b` → `a%20b`, `%` → `%25`), in the local FS's `file:/x`
    * spelling. Computed once per action on the driver, so no row of a
    * scan is ever decoded. (`input_file_name()` spells the local FS
    * `file:///x`; LayoutSpec pins both forms.) */
  private[graft] def scanForm(path: String): String = {
    val s = org.apache.spark.paths.SparkPath.fromPathString(path).urlEncoded
    if (s.startsWith("file:///")) "file:/" + s.stripPrefix("file:///") else s
  }

  /** `rel` under `root`, qualified, in [[canonFile]] form: how an entry
    * names a directory of the table (an attempt directory). */
  private def pathOf(spark: SparkSession, root: String, rel: String): String = {
    val p = new org.apache.hadoop.fs.Path(root, rel)
    canonFile(fsOf(spark, p).makeQualified(p))
  }

  /** The directory a file action's file lives in. */
  private def parentOf(file: String): String =
    file.substring(0, file.lastIndexOf('/'))

  private val LogDir = "_log"

  /** Every commit attempt's private directory lives in `_data`, named
    * by a fresh UUID: two writers racing for one version never share
    * one. Its bloom payload lives under `_payload/bloom` inside it
    * (Spark's listing skips `_`-prefixed children, so a directory read
    * of the attempt returns only its data files). */
  private val DataDir = "_data"

  /** The attempt directory (`…/_data/<uuid>`) a file or payload path
    * lives in. */
  private def attemptOf(path: String): String = {
    val i = path.lastIndexOf(s"/$DataDir/")
    val j = if (i < 0) -1 else path.indexOf('/', i + DataDir.length + 2)
    if (j < 0) path else path.substring(0, j)
  }

  /** Version `v`'s LOG ENTRY, `_log/v=N.json`: the complete description
    * of the version, in one driver-side file — and the commit itself.
    *  - `time`: the commit's wall-clock millis, `max(now, prev + 1)`
    *    over the version below it, so strictly increasing in version
    *    (the axis of [[readAsOf]]).
    *  - `dir`: the attempt directory the version added its data files
    *    to; None when it added none (a metadata-only commit, or a MOR
    *    delete that rewrote no file).
    *  - `schema`: the PHYSICAL schema. A version whose files mix
    *    generations (old files without a later-added column) is read
    *    with it EXPLICITLY, so parquet fills the missing columns with
    *    NULL and no footer is read for inference.
    *  - `constraints`: the CHECK constraints `(name, expr)`, by name.
    *  - `colmap`: the column map `(physical, logical)` ([[renameColumn]]).
    *  - `dropped`: physical names retired by [[dropColumn]].
    *  - `gen`: the [[commitGenerated]] rule `(gen, base, bucket)`.
    *  - `files`: one [[FileAction]] per live data file — the version's
    *    whole file set, wherever the files live (carried files stay in
    *    the directory of the attempt that wrote them).
    *  - `stats` / `blooms`: the physical columns every action carries
    *    `[min, max]` bounds for, and the columns with a bloom sketch
    *    per file.
    *
    * Read-modify-write commits copy the head's entry and apply their
    * edit; blind commits copy the metadata of the head they validated
    * their batch against, so they are last-writer-wins for metadata
    * exactly as for data. A reader opens only the entry of the version
    * it reads — never a listing, never another version's entry. Once
    * [[vacuum]] collects a version, its entry shrinks to its HEADER,
    * `{time, dir}`: the record of when the version committed and where
    * its data was, which outlives the data. */
  private[graft] final case class Meta(
      schema: StructType,
      constraints: Seq[(String, String)] = Nil,
      colmap: Seq[(String, String)] = Nil,
      dropped: Set[String] = Set.empty,
      gen: Option[(String, String, Long)] = None,
      files: Seq[FileAction] = Nil,
      stats: Seq[String] = Nil,
      blooms: Seq[String] = Nil,
      time: Long = 0L,
      dir: Option[String] = None) {

    /** The physical name behind a logical column (the name file
      * actions and parquet footers know it by). */
    def physical(logical: String): String =
      colmap.find(_._2 == logical).map(_._1).getOrElse(logical)

    /** The column names readers see, in schema order. */
    def logicalNames: Seq[String] = {
      val byPhys = colmap.toMap
      schema.fieldNames.toSeq.map(c => byPhys.getOrElse(c, c))
    }

    /** Exact live rows: Σ (file rows − deleted rows). A deletion
      * vector holds row positions of its own file only, so the
      * subtraction is exact. */
    def rowCount: Long = files.map(f => f.rows - f.deleted).sum
  }

  /** One live data file of a version: its path ([[canonFile]] form),
    * bytes, rows, `[min, max]` per stats column of the entry (Catalyst
    * internal values, both NULL when the file holds no non-NULL value
    * there), on a bloom table the bloom payload of the attempt that
    * wrote it, holding its sketches, and its DELETION VECTOR: the
    * positions (`_metadata.row_index`) of the file's rows a
    * [[deleteWhereMor]] deleted, None when none is (Delta's deletion
    * vectors, inline; Lemire et al., SPE 2016, for the bitmap). Row
    * positions are stable for as long as the file is immutable, which
    * a version's files are by construction. A carry copies the action
    * verbatim, bitmap included; never mutate one in place. */
  private[graft] final case class FileAction(path: String, size: Long,
      rows: Long, bounds: Seq[(Any, Any)] = Nil, bloom: Option[String] = None,
      dv: Option[Roaring64NavigableMap] = None) {
    def deleted: Long = dv.fold(0L)(_.getLongCardinality)
  }

  /** A deletion vector's portable serialization; an entry holds it in
    * base64. */
  private def bitmapBytes(b: Roaring64NavigableMap): Array[Byte] = {
    val bytes = new java.io.ByteArrayOutputStream()
    b.serializePortable(new java.io.DataOutputStream(bytes))
    bytes.toByteArray
  }

  /** The inverse of [[bitmapBytes]]. */
  private def bitmapOf(bytes: Array[Byte]): Roaring64NavigableMap = {
    val b = new Roaring64NavigableMap()
    b.deserializePortable(new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes)))
    b
  }

  private def recordPath(root: String, v: Long) =
    new org.apache.hadoop.fs.Path(root, s"$LogDir/v=$v.json")

  /** A stats bound as JSON, from its Catalyst internal value: integral,
    * date (days) and timestamp (micros) values are JSON numbers;
    * decimal, double and float values their exact text (`NaN` and the
    * infinities included); strings JSON strings; binary base64. */
  private def boundJson(v: Any, t: org.apache.spark.sql.types.DataType)
      : org.json4s.JValue = {
    import org.apache.spark.sql.types._
    import org.json4s._
    if (v == null) JNull
    else t match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType =>
        JLong(v.asInstanceOf[Number].longValue)
      case FloatType => JString(java.lang.Float.toString(v.asInstanceOf[Float]))
      case DoubleType => JString(java.lang.Double.toString(v.asInstanceOf[Double]))
      case _: DecimalType => JString(v.asInstanceOf[Decimal].toJavaBigDecimal.toString)
      case _: StringType => JString(v.toString)
      case BooleanType => JBool(v.asInstanceOf[Boolean])
      case BinaryType =>
        JString(java.util.Base64.getEncoder.encodeToString(v.asInstanceOf[Array[Byte]]))
      case other => throw new IllegalArgumentException(
        s"no stats bounds for a ${other.simpleString} column")
    }
  }

  /** The inverse of [[boundJson]]; None for a value it cannot read. */
  private def boundOf(j: org.json4s.JValue, t: org.apache.spark.sql.types.DataType)
      : Option[Any] = {
    import org.apache.spark.sql.types._
    import org.json4s._
    (j, t) match {
      case (JNull, _) => Some(null)
      case (JInt(n), ByteType) => Some(n.toByte)
      case (JInt(n), ShortType) => Some(n.toShort)
      case (JInt(n), IntegerType | DateType) => Some(n.toInt)
      case (JInt(n), LongType | TimestampType | TimestampNTZType) => Some(n.toLong)
      case (JString(s), FloatType) => Some(java.lang.Float.parseFloat(s))
      case (JString(s), DoubleType) => Some(java.lang.Double.parseDouble(s))
      case (JString(s), d: DecimalType) =>
        Some(Decimal(new java.math.BigDecimal(s), d.precision, d.scale))
      case (JString(s), _: StringType) =>
        Some(org.apache.spark.unsafe.types.UTF8String.fromString(s))
      case (JBool(b), BooleanType) => Some(b)
      case (JString(s), BinaryType) => Some(java.util.Base64.getDecoder.decode(s))
      case _ => None
    }
  }

  /** Entry `m` as JSON text; empty metadata fields are left out. */
  private def entryText(m: Meta): String = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.{compact => jsonText, parse, render}
    def pairs(ps: Seq[(String, String)]): JValue =
      JObject(ps.map { case (k, x) => k -> JString(x) }.toList)
    def names(ns: Seq[String]): JValue = JArray(ns.map(JString(_)).toList)
    val types = m.stats.map(c => m.schema(c).dataType)
    val files = m.files.map { f =>
      JObject(List("path" -> JString(f.path), "size" -> JLong(f.size),
        "rows" -> JLong(f.rows)) ++
        Option.when(types.nonEmpty)("bounds" -> JArray(f.bounds.zip(types).map {
          case ((lo, hi), t) => JArray(List(boundJson(lo, t), boundJson(hi, t)))
        }.toList)) ++
        f.bloom.map("bloom" -> JString(_)) ++
        f.dv.map(b => "dv" ->
          JString(java.util.Base64.getEncoder.encodeToString(bitmapBytes(b)))))
    }
    val fields = headerFields(m.time, m.dir) ++
      List("schema" -> parse(m.schema.json)) ++
      Option.when(m.constraints.nonEmpty)("constraints" -> pairs(m.constraints)) ++
      Option.when(m.colmap.nonEmpty)("colmap" -> pairs(m.colmap)) ++
      Option.when(m.dropped.nonEmpty)("dropped" -> names(m.dropped.toSeq.sorted)) ++
      m.gen.map { case (g, b, k) =>
        "gen" -> JObject("gen" -> JString(g), "base" -> JString(b),
          "bucket" -> JLong(k)) } ++
      Option.when(m.stats.nonEmpty)("stats" -> names(m.stats)) ++
      Option.when(m.blooms.nonEmpty)("blooms" -> names(m.blooms)) ++
      List("files" -> JArray(files.toList))
    jsonText(render(JObject(fields)))
  }

  private def headerFields(time: Long, dir: Option[String])
      : List[(String, org.json4s.JValue)] =
    ("time" -> org.json4s.JLong(time)) :: dir.map(d => "dir" -> org.json4s.JString(d)).toList

  /** Version `v`'s entry, parsed, or None when there is none. Text that
    * does not parse is corruption or format drift, never "no entry": it
    * fails loudly with the evidence. */
  private def entryJson(spark: SparkSession, root: String,
                        v: Long): Option[org.json4s.JValue] = {
    val p = recordPath(root, v)
    val json =
      try {
        val in = fsOf(spark, p).open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      } catch { case _: java.io.FileNotFoundException => return None }
    try Some(org.json4s.jackson.JsonMethods.parse(json))
    catch { case scala.util.control.NonFatal(e) =>
      throw new IllegalStateException(s"malformed metadata record $p: $json", e) }
  }

  /** The `(time, dir)` header every entry starts with. */
  private def headerOf(j: org.json4s.JValue): (Long, Option[String]) = {
    import org.json4s._
    (j \ "time", j \ "dir") match {
      case (JInt(t), JNothing) => (t.toLong, None)
      case (JInt(t), JString(d)) => (t.toLong, Some(d))
      case _ => throw new IllegalStateException(s"malformed entry header: $j")
    }
  }

  private def isHeaderOnly(j: org.json4s.JValue): Boolean =
    (j \ "schema") == org.json4s.JNothing

  /** Version `v`'s entry. A version with no entry, or one [[vacuum]]
    * collected (its entry is a header), fails fast with the retained
    * inventory rather than a bare path error. */
  private[graft] def metaOf(spark: SparkSession, root: String, v: Long): Meta =
    metaFrom(root, v, entryJson(spark, root, v).filterNot(isHeaderOnly).getOrElse {
      val have = logVersions(spark, root)
        .filter(u => entryJson(spark, root, u).exists(!isHeaderOnly(_)))
      throw new java.util.NoSuchElementException(
        s"snapshot $root has no version $v (vacuumed?); " +
          s"retained: ${have.map(u => s"v=$u").mkString(", ")}")
    })

  /** Version `v`'s entry from its parsed JSON `j`. */
  private def metaFrom(root: String, v: Long, j: org.json4s.JValue): Meta = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.{compact => jsonText, render}
    import scala.util.control.NonFatal
    val p = recordPath(root, v)
    def malformed(cause: Throwable = null): Nothing =
      throw new IllegalStateException(s"malformed metadata record $p: ${jsonText(render(j))}", cause)
    def pairs(j: JValue): Seq[(String, String)] = j match {
      case JNothing => Nil
      case JObject(fs) => fs.map {
        case (k, JString(x)) => (k, x)
        case _ => malformed()
      }
      case _ => malformed()
    }
    def names(j: JValue): Seq[String] = j match {
      case JNothing => Nil
      case JArray(xs) => xs.map {
        case JString(n) => n
        case _ => malformed()
      }
      case _ => malformed()
    }
    def long(j: JValue): Long = j match {
      case JInt(n) => n.toLong
      case _ => malformed()
    }
    def text(j: JValue): Option[String] = j match {
      case JNothing => None
      case JString(x) => Some(x)
      case _ => malformed()
    }
    val (time, dir) = try headerOf(j) catch { case NonFatal(e) => malformed(e) }
    val schema =
      try org.apache.spark.sql.types.DataType
        .fromJson(jsonText(render(j \ "schema"))).asInstanceOf[StructType]
      catch { case NonFatal(e) => malformed(e) }
    val stats = names(j \ "stats")
    val types =
      try stats.map(c => schema(c).dataType)
      catch { case NonFatal(e) => malformed(e) }
    val files = j \ "files" match {
      case JArray(fs) => fs.map { f =>
        val bounds = (f \ "bounds", types) match {
          case (JNothing, Nil) => Nil
          case (JArray(bs), _) if bs.size == types.size => bs.zip(types).map {
            case (JArray(List(lo, hi)), t) =>
              (boundOf(lo, t).getOrElse(malformed()),
                boundOf(hi, t).getOrElse(malformed()))
            case _ => malformed()
          }
          case _ => malformed()
        }
        val dv =
          try text(f \ "dv").map(t => bitmapOf(java.util.Base64.getDecoder.decode(t)))
          catch { case NonFatal(e) => malformed(e) }
        FileAction(text(f \ "path").getOrElse(malformed()), long(f \ "size"),
          long(f \ "rows"), bounds, text(f \ "bloom"), dv)
      }
      case _ => malformed()
    }
    Meta(schema, pairs(j \ "constraints"), pairs(j \ "colmap"),
      names(j \ "dropped").toSet,
      j \ "gen" match {
        case JNothing => None
        case g => (g \ "gen", g \ "base", g \ "bucket") match {
          case (JString(gn), JString(b), JInt(k)) => Some((gn, b, k.toLong))
          case _ => malformed()
        }
      },
      files, stats, names(j \ "blooms"), time, dir)
  }

  /** ADD-COLUMN evolution: base columns keep their position, batch-only
    * columns append. A same-name column must keep its type — anything
    * else (rename, retype, drop) is not an additive append and fails
    * fast rather than silently corrupting carried files' reads. Only
    * nullability may differ: a batch read back from its footer is
    * nullable throughout (`array<bigint>` without its non-null
    * elements flag is the same column). */
  private def mergedSchema(base: StructType, batch: StructType): StructType = {
    val baseNames = base.fieldNames.toSet
    base.fields.foreach { f =>
      batch.fields.find(_.name == f.name).foreach { g =>
        require(org.apache.spark.sql.types.DataType.equalsStructurally(
            g.dataType, f.dataType, ignoreNullability = true),
          s"schema evolution is ADD-COLUMN only: ${f.name} is " +
            s"${f.dataType.simpleString} in the table but " +
            s"${g.dataType.simpleString} in the batch")
      }
    }
    StructType(base.fields ++ batch.fields.filterNot(f => baseNames(f.name)))
  }

  /** A commit rejected by a CHECK constraint: the constraint's name
    * plus how many of the batch's rows failed it. The commit deletes
    * the attempt directory it wrote before validation and puts
    * nothing. */
  final class ConstraintViolation(val constraint: String,
                                  val nViolations: Long, msg: String)
    extends IllegalArgumentException(msg)

  /** The CHECK constraints active at version `v`, sorted by name — one
    * read of that version's record. */
  def checkConstraintsOf(spark: SparkSession, root: String,
                         v: Long): Seq[(String, String)] =
    metaOf(spark, root, v).constraints

  /** Violation counts of `df` against each constraint — ONE aggregate
    * scan reading only the constraint columns (column-pruned when `df`
    * is a fresh-files read-back). SQL CHECK semantics: a NULL
    * predicate passes (only definite FALSE violates). */
  private def violationCounts(df: DataFrame,
                              cs: Seq[(String, String)])
      : Seq[(String, Long)] = {
    import org.apache.spark.sql.functions._
    if (cs.isEmpty) return Nil
    val aggs = cs.map { case (n, e) =>
      sum(when(!coalesce(expr(e).cast("boolean"), lit(true)), 1L)
        .otherwise(0L)).as(n)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cs.zipWithIndex.map { case ((n, _), i) =>
      (n, if (row.isNullAt(i)) 0L else row.getLong(i))
    }
  }

  /** Enforce the base version's CHECK constraints (`m`, its entry) on
    * the parquet just written into attempt directory `dir`, BEFORE the
    * put — reading back the written files costs one column-pruned scan
    * of the BATCH and never re-executes the input plan; a violation
    * throws and nothing is put. */
  private def enforceWritten(spark: SparkSession, root: String,
                             dir: String, m: Meta): Unit = {
    if (m.constraints.isEmpty) return
    // constraints are authored in LOGICAL names; the written files are
    // physical — evaluate on the logical view ([[renameColumn]] refuses
    // to rename a column an active constraint references)
    val bad = violationCounts(
      toLogical(spark.read.parquet(dir), m.colmap),
      m.constraints).filter(_._2 > 0)
    bad.headOption.foreach { case (n, c) =>
      throw new ConstraintViolation(n, c,
        s"commit to $root rejected: CHECK constraint `$n` failed on " +
          s"$c row(s); nothing committed")
    }
  }

  /** COLUMN MAPPING (Delta `columnMapping.mode = name` / Iceberg field
    * IDs, reduced to the rename case): physical column names are
    * FROZEN at first commit; a rename is pure metadata — the record's
    * `(physical, logical)` map. Readers get logical names by aliasing
    * after the scan; writers translate logical → physical before
    * parquet sees the batch, so EVERY file of the table keeps one
    * physical schema across any number of renames and no data is ever
    * rewritten. Present `df` (physical names) under the map's logical
    * names. */
  private def toLogical(df: DataFrame,
                        m: Seq[(String, String)]): DataFrame =
    if (m.isEmpty) df
    else {
      val byPhys = m.toMap
      import org.apache.spark.sql.functions.col
      df.select(df.columns.map(c =>
        col(c).as(byPhys.getOrElse(c, c))): _*)
    }

  /** Translate a batch arriving in LOGICAL names back to the table's
    * frozen physical names before it is written. */
  private def toPhysical(df: DataFrame,
                         m: Seq[(String, String)]): DataFrame =
    if (m.isEmpty) df
    else {
      val byLogical = m.map(_.swap).toMap
      import org.apache.spark.sql.functions.col
      df.select(df.columns.map(c =>
        col(c).as(byLogical.getOrElse(c, c))): _*)
    }

  /** The `(file, bytes)` inventory of version `v`: its entry's file
    * actions, no listing and no file status. */
  private[graft] def fileInventory(spark: SparkSession, root: String,
                                   v: Long): Seq[(String, Long)] =
    metaOf(spark, root, v).files.map(f => (f.path, f.size))

  /** The paths a read of entry `m` passes to the parquet reader: the
    * version's own attempt directory when every file lives there (a
    * self-contained version), otherwise the files. One root path for a
    * self-contained version keeps its read below Spark's
    * parallel-listing threshold whatever its file count. */
  private def scanPaths(m: Meta): Seq[String] =
    m.dir.filter(d => m.files.forall(f => parentOf(f.path) == d))
      .fold(m.files.map(_.path))(Seq(_))

  /** Parquet reader pinned to the version's RECORDED physical schema.
    * Every file-granular read path must go through this: a raw
    * `spark.read.parquet(files)` infers the FILES' physical columns,
    * which resurrects [[dropColumn]]-removed columns and footer-reads
    * for schema; the explicit schema surfaces columns added after a
    * file was written as NULL, with no footer read (O(1) planning
    * instead of O(files) mergeSchema). */
  private def physReader(spark: SparkSession,
                         m: Meta): org.apache.spark.sql.DataFrameReader =
    spark.read.schema(m.schema)

  /** The version of entry `m` in PHYSICAL names with its deletion
    * vectors applied. */
  private def readPhysical(spark: SparkSession, m: Meta): DataFrame =
    applyDv(spark, m, physReader(spark, m).parquet(scanPaths(m): _*))

  /** The version of entry `m` in LOGICAL names. */
  private def readResolved(spark: SparkSession, m: Meta): DataFrame =
    toLogical(readPhysical(spark, m), m.colmap)

  /** Version `m`'s empty result in logical names, built from the
    * recorded schema: no file is opened. */
  private def emptyOf(spark: SparkSession, m: Meta): DataFrame =
    toLogical(graft.plans.DriverEval.localFrame(spark, Nil,
      StructType(m.schema.fields.map(_.copy(nullable = true)))), m.colmap)

  /** The files `read` (actions of entry `m`) in PHYSICAL names with
    * their deletion vectors applied. When they total at most a quarter
    * of `spark.sql.files.openCostInBytes` (1 MB at Spark's default)
    * both as parquet and as decoded rows (Σ live rows × the estimated
    * row size, the estimate by which [[graft.plans.DriverEval]] bounds
    * a local relation) — counts and sizes from the actions, no listing
    * — Spark's parquet reader reads them on the driver
    * ([[Layout.readOnDriver]]) as the recorded schema, skipping each
    * bitmap's positions as it goes, into a local relation that the
    * rule folds the rest of the query into: the read runs no Spark job.
    * Larger reads scan through [[applyDv]]. The quarter is measured: on
    * 4 vCPUs, a pruned or point read plus an aggregate over a one-file
    * table of TPC-H orders took longer on the driver than as a scan
    * from about 1.5 MB of decoded rows on, as the driver decodes,
    * filters and aggregates every row on one thread. */
  private def readFiles(spark: SparkSession, m: Meta,
                        read: Seq[FileAction]): DataFrame = {
    val schema = Layout.nullable(m.schema)
    val bound = BigInt(spark.sessionState.conf.filesOpenCostInBytes) / 4
    val decoded = BigInt(read.map(f => f.rows - f.deleted).sum) *
      EstimationUtils.getSizePerRow(DataTypeUtils.toAttributes(schema))
    if (read.map(_.size).sum > bound || decoded > bound)
      applyDv(spark, m, physReader(spark, m).parquet(read.map(_.path): _*))
    else Layout.readOnDriver(spark, schema,
      read.map(f => new org.apache.hadoop.fs.FileStatus(f.size, false, 0, 0L, 0L,
        new org.apache.hadoop.fs.Path(f.path))),
      read.map(f => f.dv.fold[Long => Boolean](_ => false)(b => b.contains(_))))
  }

  /** The live version; an empty table fails. */
  private def headOf(spark: SparkSession, root: String): Long =
    currentVersion(spark, root).getOrElse(
      throw new java.util.NoSuchElementException(
        s"snapshot table $root has no committed version"))

  /** Read the live snapshot (the only read path — readers never list
    * attempt directories, so unpublished attempts are invisible). */
  def readCurrent(spark: SparkSession, root: String): DataFrame =
    readResolved(spark, metaOf(spark, root, headOf(spark, root)))

  /** Time travel: read a specific retained version. Versions survive
    * until [[vacuum]] collects them (`retain` controls how many stay
    * readable); a collected one fails fast with the retained
    * inventory. */
  def readVersion(spark: SparkSession, root: String, v: Long): DataFrame =
    readResolved(spark, metaOf(spark, root, v))

  /** Exact row count of the LIVE version from its entry alone — the
    * table-format count every log supports (Delta's `numRecords`
    * stats, Iceberg's manifest `record_count`): Σ file rows minus Σ
    * deleted rows ([[Meta.rowCount]]). No file is opened and no job
    * runs, where `readCurrent(...).count()` re-read every committed
    * byte (at 100 TB: the table, again, per post-commit visibility
    * check). SnapshotSpec pins it equal to `readCurrent(...).count()`
    * through commit, append, MOR-delete, purge, and full-file-delete
    * venues. */
  def currentRowCount(spark: SparkSession, root: String): Long =
    metaOf(spark, root, headOf(spark, root)).rowCount

  /** `numFiles` sentinel for [[compact]]: derive the rewrite width
    * from the bytes the current version actually references. */
  val DerivedWidth: Int = 0

  /** Target bytes per compacted file (parquet-encoded). One writer
    * per ~this many referenced bytes keeps rewrite parallelism
    * tracking data volume while still producing scan-efficient files —
    * the table's target-file-size policy as code. */
  private val TargetCompactBytes = 128L * 1024 * 1024

  /** The clamp itself, separated for spec pinning: referenced bytes
    * over [[TargetCompactBytes]], ceiling, clamped to [1, cap]. */
  private[graft] def compactWidthFor(bytes: Long, cap: Int): Int =
    math.min(cap.toLong, math.max(1L,
      (bytes + TargetCompactBytes - 1) / TargetCompactBytes)).toInt

  /** Compaction: rewrite the CURRENT version's files into `numFiles`
    * and commit the result as a new version — the small-file
    * maintenance pass every incrementally-ingested table needs (a CDC
    * stream of small merge batches leaves one file per shuffle
    * partition per commit; scan cost grows with file count, not data).
    * A read-modify-write commit like any other, so it is safe against
    * concurrent writers — if a merge lands first, the put is lost and
    * the compaction replans on the new head. Readers are
    * never disturbed: content is byte-identical by construction
    * (repartition only moves rows between files), and the old version
    * remains until vacuumed.
    *
    * `numFiles` defaults to [[DerivedWidth]]: one writer per
    * ~128 MB of referenced bytes (the entry's file sizes), clamped to
    * [1, shuffle.partitions]. A FIXED width is the of21-class scale
    * defect in maintenance form — 10× the rows through the same k
    * writer tasks; deriving it per-attempt (the referenced set changes
    * if a concurrent commit wins the put) keeps rewrite
    * parallelism tracking volume. */
  def compact(spark: SparkSession, root: String,
              numFiles: Int = DerivedWidth): Long =
    onHead(spark, root, "compact") { (_, m) => Some { dir =>
      // the new version is self-contained, collapsing any reference
      // chain so vacuum can reclaim the referenced ancestors; the
      // deletion vectors die with the rewrite and the stats are re-derived
      val nF = if (numFiles > 0) numFiles
               else compactWidthFor(m.files.map(_.size).sum,
                 spark.sessionState.conf.numShufflePartitions)
      readPhysical(spark, m).repartition(nF)
        .write.mode("overwrite").parquet(dir)
      withFiles(spark, dir, m, Nil)
    } }

  /** A commit planned on a head: `write(dir)` writes the attempt's
    * files into its directory `dir` (or nothing, for a metadata-only
    * commit) and returns the new version's entry. `reput(entry, m2)`
    * re-bases that entry on a newer head's entry `m2` without any job,
    * or is None when the attempt must be dropped and replanned — always
    * for a read-modify-write commit, whose plan read the old head. */
  private final case class Plan(write: String => Meta,
                                reput: (Meta, Meta) => Option[Meta] = (_, _) => None)

  /** THE commit loop, every commit kind's: read the head (None for an
    * empty table) and its entry, `plan` against them (None is a no-op:
    * the head is returned and nothing is written), write the attempt
    * into a fresh `_data/<uuid>`, and put the entry at `head+1`
    * ([[put]]). The put is the commit; the `_CURRENT` hint follows it.
    * A lost put means a live writer committed that version, so there is
    * nothing to wait for and no attempt budget: the plan's `reput`
    * either re-bases the entry on the new head and puts again, keeping
    * the attempt's files, or the attempt is deleted ([[discard]]) and
    * the commit replans on the new head. A [[ConstraintViolation]]
    * deletes the attempt and propagates. */
  private def commitLoop(spark: SparkSession, root: String)(
      plan: (Option[Long], Meta) => Option[Plan]): Long = {
    var base = currentVersion(spark, root)
    var m = base.fold(Meta(new StructType()))(metaOf(spark, root, _))
    var planned: Option[(Plan, String, Meta)] = None
    while (true) {
      val (p, dir, entry) = planned.getOrElse {
        val p = plan(base, m).getOrElse(return base.get)
        val dir = pathOf(spark, root, s"$DataDir/${java.util.UUID.randomUUID()}")
        val entry =
          try p.write(dir)
          catch { case e: ConstraintViolation => discard(spark, dir); throw e }
        (p, dir, entry)
      }
      val next = base.getOrElse(0L) + 1
      val added = entry.files.exists(f => parentOf(f.path) == dir)
      if (put(spark, root, next, entry.copy(
            time = math.max(System.currentTimeMillis(), m.time + 1),
            dir = Option.when(added)(dir)))) {
        // the hint only speeds up the probe: a failed write of it
        // leaves the commit, already published, intact
        try setPointer(spark, root, next) catch { case _: java.io.IOException => () }
        return next
      }
      base = currentVersion(spark, root)
      if (base.forall(_ < next)) throw new java.io.IOException(
        s"${recordPath(root, next)} exists but is no committed entry")
      m = metaOf(spark, root, base.get)
      planned = p.reput(entry, m).map(e => (p, dir, e))
      if (planned.isEmpty) discard(spark, dir)
    }
    -1L // unreachable
  }

  /** The read-modify-write form of [[commitLoop]]: an empty table fails
    * with [[java.util.NoSuchElementException]], and `plan` gets the head
    * and its entry and returns None for a no-op or `Some(write)`. Only
    * an entry put at exactly `head+1` commits, so the head `plan` read
    * is the true predecessor — the serializability argument of every
    * caller. */
  private def onHead(spark: SparkSession, root: String, op: String)(
      plan: (Long, Meta) => Option[String => Meta]): Long =
    commitLoop(spark, root) { (base, m) =>
      val b = base.getOrElse(throw new java.util.NoSuchElementException(
        s"snapshot table $root has no committed version ($op)"))
      plan(b, m).map(Plan(_))
    }

  /** Publish entry `m` as version `v`: ONE put-if-absent of the
    * complete entry ([[graft.util.Lease.createExclusive]]). Returns
    * whether this call created it — whoever does owns version `v`. */
  private def put(spark: SparkSession, root: String, v: Long, m: Meta): Boolean =
    graft.util.Lease.createExclusive(spark.sparkContext.hadoopConfiguration,
      recordPath(root, v), entryText(m))

  /** Bytes this JVM wrote into attempts it then deleted after losing a
    * put: the price of writing before the put, which a commit pays only
    * under contention. */
  private[graft] val discardedBytes = new java.util.concurrent.atomic.AtomicLong()

  /** Delete a lost or rejected attempt directory. */
  private def discard(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = fsOf(spark, p)
    if (fs.exists(p)) {
      discardedBytes.addAndGet(fs.getContentSummary(p).getLength)
      fs.delete(p, true)
    }
  }

  /** The versions of the log, oldest first (a listing of `_log`). */
  private def logVersions(spark: SparkSession, root: String): Seq[Long] = {
    val dir = new org.apache.hadoop.fs.Path(root, LogDir)
    val listed =
      try fsOf(spark, dir).listStatus(dir).toSeq
      catch { case _: java.io.FileNotFoundException => Nil }
    listed.map(_.getPath.getName)
      .collect { case n if n.matches("v=\\d+\\.json") =>
        n.stripPrefix("v=").stripSuffix(".json").toLong }
      .sorted
  }

  /** Every entry of the log, oldest first: `(version, time, dir)` from
    * each entry's header. */
  private[graft] def logOf(spark: SparkSession,
                           root: String): Seq[(Long, Long, Option[String])] =
    logVersions(spark, root).flatMap { v =>
      entryJson(spark, root, v).map(headerOf).map { case (t, d) => (v, t, d) }
    }

  /** The table's commit timeline: (version, commitTimeMillis) sorted by
    * version — Delta's DESCRIBE HISTORY shape, read from the log alone
    * (a collected version keeps its header). O(commits); only
    * [[versionAsOf]] and forensics read it, never the commit path. */
  def commitHistory(spark: SparkSession, root: String): Seq[(Long, Long)] =
    logOf(spark, root).map { case (v, t, _) => (v, t) }

  /** The version the table was at, at wall-clock `tsMillis` — Delta's
    * `TIMESTAMP AS OF`. Entry times are strictly increasing in version
    * (enforced at the put), so this is the last version at or before
    * the instant. Fails fast when the instant precedes the first
    * commit, or the table is empty. */
  def versionAsOf(spark: SparkSession, root: String, tsMillis: Long): Long = {
    val h = commitHistory(spark, root)
    if (h.isEmpty) throw new java.util.NoSuchElementException(
      s"snapshot table $root has no commit history")
    val eligible = h.filter(_._2 <= tsMillis)
    if (eligible.isEmpty) throw new java.util.NoSuchElementException(
      s"timestamp $tsMillis precedes the first commit of $root " +
        s"(first: v=${h.head._1} at ${h.head._2})")
    eligible.last._1
  }

  /** Timestamp time travel: [[readVersion]] at [[versionAsOf]] the
    * instant. Reading an instant whose version was [[vacuum]]ed fails
    * fast with the retained inventory (headers outlive their data on
    * purpose — they are the audit log of WHEN the table changed, not a
    * liveness promise). */
  def readAsOf(spark: SparkSession, root: String,
               tsMillis: Long): DataFrame =
    readVersion(spark, root, versionAsOf(spark, root, tsMillis))

  /** Commit `df` as the next snapshot: write it into a fresh attempt
    * directory, then put the version's entry. Returns the committed
    * version. Racing blind commits serialize through the put: each keeps
    * its own attempt directory, a loser re-puts on top of the winner,
    * and the last put is the head — nobody overwrites anybody's files.
    * Like the data, the metadata is last-writer-wins: the new entry
    * takes the batch's schema and copies the constraints, column map,
    * dropped set and generation rule of the head the batch was
    * validated against. When a lost put finds a head whose column map,
    * dropped set or constraints differ, the batch is rewritten and
    * revalidated against it ([[binding]]). */
  def commit(df: DataFrame, root: String): Long =
    commitInternal(df, root, Nil)

  /** [[commit]] plus per-file min/max/count stats over `statsCols` —
    * the data-skipping index every table format keeps (Delta's per-file
    * stats in its add actions, Iceberg's manifest column bounds). The
    * bounds ride in the entry's file actions, so any committed version
    * has its stats in place; they come from the written files' footers, or from one
    * aggregate over only the files just written ([[freshActions]] — at
    * 100 TB this reads back one commit's files, not the table). Pair with a
    * range layout on the stats column (`repartitionByRange` +
    * `sortWithinPartitions`) so file bounds are disjoint and
    * [[readCurrentPruned]] skips all but the overlapping files. */
  def commitWithStats(df: DataFrame, root: String,
                      statsCols: Seq[String],
                      bloomCols: Seq[String] = Nil): Long = {
    require(statsCols.nonEmpty, "commitWithStats needs at least one column")
    commitInternal(df, root, statsCols, bloomCols)
  }

  /** Z-order clustered commit — the Delta `OPTIMIZE ... ZORDER BY`
    * shape as a first-class write: lay the files on the Morton curve
    * of two filter dimensions ([[Layout.zorderCluster]]) and record
    * min/max stats for BOTH, so every file's stats describe a compact
    * box in (c1, c2) space and [[readCurrentPrunedBox]] skips any file
    * whose box misses the query box. A single-column range layout
    * serves one dimension and scatters the other (its min/max spans
    * everything); the curve serves both from one write-time range
    * shuffle. */
  def commitClustered(df: DataFrame, root: String, c1: String, c2: String,
                      nFiles: Int, bloomCols: Seq[String] = Nil,
                      bits: Int = 0): Long =
    commitInternal(Layout.zorderCluster(df, c1, c2, nFiles, bits), root,
      Seq(c1, c2), bloomCols)

  /** What a blind commit's attempt was validated against on the head
    * (entry `m`): the names it was written under, the retired names it
    * was checked against, the constraints it was checked against, and
    * the columns and types its fresh file actions carry stats for. A
    * lost put re-puts the attempt on a new head only when this is
    * unchanged. */
  private def binding(m: Meta) = (m.colmap, m.dropped, m.constraints,
    m.stats.map(c => c -> m.schema(c).dataType), m.blooms)

  /** `gen` replaces the head's generation rule in the new entry
    * ([[commitGenerated]]). */
  private def commitInternal(df: DataFrame, root: String,
                             statsCols: Seq[String],
                             bloomCols: Seq[String] = Nil,
                             gen: Option[(String, String, Long)] = None): Long = {
    val spark = df.sparkSession
    commitLoop(spark, root) { (_, hm) =>
      // the live head's entry binds the batch (a blind commit replaces
      // whatever is current, so current's rules bind); a fresh table
      // has no map and no constraints. Column mapping: the batch
      // arrives in LOGICAL names — freeze it back to the table's
      // physical names before parquet sees it (and the stats columns
      // with it)
      val physDf = toPhysical(df, hm.colmap)
      Some(Plan(
        dir => {
          physDf.write.mode("overwrite").parquet(dir)
          enforceWritten(spark, root, dir, hm)
          withFiles(spark, dir, hm.copy(schema = physDf.schema,
            gen = gen.orElse(hm.gen), files = Nil, stats = statsCols.map(hm.physical),
            blooms = bloomCols.map(hm.physical)), Nil)
        },
        (e, m2) => Option.when(binding(m2) == binding(hm))(
          e.copy(gen = gen.orElse(m2.gen)))))
    }
  }

  /** Filter the rows the deletion vectors of entry `m` delete out of a
    * PHYSICAL parquet scan — the merge-on-read half of every read path.
    * MUST be applied directly on (a projection of) the file scan: it
    * reads the scan's `_metadata` columns. A version without a deletion
    * vector returns the scan untouched. Otherwise one filter: a UDF
    * over `(_metadata.file_path, _metadata.row_index)` closing over each
    * action's [[scanForm]] and bitmap — a metadata-sized map, shipped
    * with the task like any closure. A scanned file no action names
    * fails the lookup loudly rather than passing its rows unfiltered. */
  private def applyDv(spark: SparkSession, m: Meta,
                      phys: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, udf}
    if (m.files.forall(_.dv.isEmpty)) return phys
    val deleted = m.files.map(f => scanForm(f.path) -> f.dv.orNull).toMap
    val live = udf { (file: String, row: Long) =>
      val d = deleted(file)
      d == null || !d.contains(row)
    }
    phys.filter(live(col("_metadata.file_path"), col("_metadata.row_index")))
  }

  /** Per-file bloom sketch size target: estimated distinct values per
    * FILE (Spark sizes numBits from it at the default 3 % fpp, ~90 KB
    * per file at 100k — SIZE IT TO ROWS-PER-FILE: the bloom payloads
    * grow by sketch-size × files, and [[readCurrentPoint]] deserializes
    * every live sketch, so an oversized est wastes payload bytes and
    * lookup latency while an undersized one only raises the
    * false-positive rate — never loses files. Overridable per session
    * via `graft.snapshot.bloomEstItems` on the Spark conf. */
  private def bloomEstItems(spark: SparkSession): Long =
    spark.conf.getOption("graft.snapshot.bloomEstItems")
      .map(_.toLong).getOrElse(100000L)

  /** The parquet data files directly under `dir` (none when nothing
    * was written there). */
  private def parquetFiles(spark: SparkSession, dir: org.apache.hadoop.fs.Path)
      : Seq[org.apache.hadoop.fs.FileStatus] =
    try fsOf(spark, dir).listStatus(dir).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    catch { case _: java.io.FileNotFoundException => Nil }

  /** The file actions of `files`, the parquet a commit just wrote into
    * attempt directory `dir`, read as the version's physical `schema` (a stats column a
    * batch lacks reads NULL, so its bounds are NULL, the add-column
    * rule). Rows and `stats` bounds are exactly what parquet footers
    * already record, so they derive from METADATA ([[footerActions]]) —
    * no second pass over the just-committed bytes (at 100 TB the
    * read-back is a full extra scan of every commit). Only the data
    * selects one aggregate over just these files instead: a stats
    * column that is not a plain int, or a bloom column (a sketch needs
    * the values). A bloom aggregate is written as the attempt's bloom
    * payload, which holds only these files (a carry never rewrites
    * sketches), and read back on the driver for the bounds. The
    * aggregate keys on each listed file's [[scanForm]], mapped back to
    * its [[canonFile]] name; a scanned file the listing lacks is a
    * stray and fails. A file holding no row gets NULL bounds and no
    * sketch. */
  private def freshActions(spark: SparkSession, dir: String,
                           files: Seq[org.apache.hadoop.fs.FileStatus],
                           schema: StructType, stats: Seq[String],
                           blooms: Seq[String]): Seq[FileAction] = {
    import org.apache.spark.sql.functions._
    val footer =
      if (files.isEmpty) Some(Nil)
      else if (blooms.nonEmpty) None
      else footerActions(spark, files, schema, stats)
    footer.getOrElse {
      val aggs = statsAggs(spark, stats, blooms)
      val listed = files.map(st => canonFile(st.getPath))
      val named = typedLit(listed.map(f => scanForm(f) -> f).toMap)
      val scanned = col("_metadata.file_path")
      // a scanned file the listing lacks keeps its scan form: a stray
      val agg = spark.read.schema(schema).parquet(dir)
        .groupBy(coalesce(element_at(named, scanned), scanned).as("file"))
        .agg(aggs.head, aggs.tail: _*)
      val payload = Option.when(blooms.nonEmpty)(s"$dir/_payload/bloom")
      val rows = payload match {
        case None => agg.collect()
        case Some(p) =>
          agg.coalesce(1).write.mode("overwrite").parquet(p)
          Layout.readParquet(spark, p).collect()
      }
      val toBound = stats.map(c => org.apache.spark.sql.catalyst
        .CatalystTypeConverters.createToCatalystConverter(schema(c).dataType))
      val byFile = rows.map { r =>
        r.getAs[String]("file") -> (r.getAs[Long]("n_rows"),
          stats.zip(toBound).map { case (c, bound) =>
            (bound(r.getAs[Any](s"min_$c")), bound(r.getAs[Any](s"max_$c"))) })
      }.toMap
      val strays = byFile.keySet -- listed
      require(strays.isEmpty, s"stats of attempt $dir name files " +
        s"the directory does not list (path form mismatch — " +
        s"scanForm vs _metadata.file_path): ${strays.head}")
      files.zip(listed).map { case (st, f) =>
        byFile.get(f) match {
          case Some((n, bounds)) => FileAction(f, st.getLen, n, bounds, payload)
          case None => FileAction(f, st.getLen, 0L, stats.map(_ => (null, null)))
        }
      }
    }
  }

  /** Footer-derived actions, or None when the footers cannot give the
    * scan path's exact answer: a stats column that is not an int or a
    * long in the table, or not a plain INT32/INT64 in a file (float NaN
    * rules and binary truncation make those footers unreliable; int
    * statistics are exact, and null semantics match the aggregate: an
    * all-null file → NULL bounds; a file without the column → NULL
    * bounds), or a populated row group lacking a statistic. Bounds take
    * the table's type, so INT32 files under a long column widen.
    * Driver-side O(files) metadata reads — the same footers the
    * scan-path planner opens anyway. */
  private def footerActions(spark: SparkSession,
                            files: Seq[org.apache.hadoop.fs.FileStatus],
                            tableSchema: StructType,
                            statsCols: Seq[String]): Option[Seq[FileAction]] = {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val types = statsCols.map(c => tableSchema(c).dataType)
    if (!types.forall(t => t == LongType || t == IntegerType)) return None
    Some(files.map { st =>
      val reader = Layout.openFooter(conf, st)
      try {
        val schema = reader.getFileMetaData.getSchema
        val blocks = reader.getRowGroups.asScala.toSeq
        val bounds = statsCols.zip(types).map { case (c, want) =>
          if (!schema.containsField(c)) (null, null) // a batch without it
          else {
            val t = schema.getType(Seq(c): _*)
            if (!t.isPrimitive) return None
            val prim = t.asPrimitiveType()
            import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
            prim.getPrimitiveTypeName match {
              case INT32 =>
              case INT64 if want == LongType =>
              case _ => return None
            }
            // logical annotations (decimal/date/timestamp/int8/16)
            // change the Spark-side value — plain ints only
            val ann = prim.getLogicalTypeAnnotation
            val plain = ann == null || (ann match {
              case i: org.apache.parquet.schema.LogicalTypeAnnotation
                    .IntLogicalTypeAnnotation =>
                i.isSigned && (i.getBitWidth == 32 || i.getBitWidth == 64)
              case _ => false
            })
            if (!plain) return None
            var lo: Long = Long.MaxValue
            var hi: Long = Long.MinValue
            var seen = false
            blocks.foreach { b =>
              if (b.getRowCount > 0) {
                val chunk = b.getColumns.asScala
                  .find(_.getPath.toDotString == c).getOrElse(return None)
                val s = chunk.getStatistics
                if (s == null || s.isEmpty) return None
                if (s.hasNonNullValue) {
                  val (mn, mx) = (s.genericGetMin, s.genericGetMax) match {
                    case (a: java.lang.Number, b: java.lang.Number) =>
                      (a.longValue, b.longValue)
                    case _ => return None
                  }
                  if (mn < lo) lo = mn
                  if (mx > hi) hi = mx
                  seen = true
                } else if (s.getNumNulls < b.getRowCount) return None
              }
            }
            def box(v: Long): Any = if (want == LongType) v else v.toInt
            if (seen) (box(lo), box(hi)) else (null, null)
          }
        }
        FileAction(canonFile(st.getPath), st.getLen,
          blocks.map(_.getRowCount).sum, bounds)
      } finally reader.close()
    })
  }

  /** The per-file aggregate list every stats scan shares: min/max per
    * stats column, a bloom sketch per bloom column ([[readCurrentPoint]]
    * consults it for point-lookup file skipping on columns a range
    * layout can't serve), and the row count. */
  private def statsAggs(spark: SparkSession, statsCols: Seq[String],
                        bloomCols: Seq[String])
      : Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions._
    if (bloomCols.nonEmpty) graft.plans.BloomReduce.register(spark)
    statsCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))) ++
      bloomCols.map(c =>
        expr(s"${graft.plans.BloomReduce.aggName}(CAST($c AS BIGINT), " +
          s"CAST(${bloomEstItems(spark)} AS BIGINT))").as(s"bloom_$c")) :+
      count(lit(1)).as("n_rows")
  }

  /** The entry's per-file stats as a local relation `(file, min_c,
    * max_c, …, n_rows)` typed by the recorded schema: Catalyst folds
    * filters into it, and `collect` runs no job. */
  private[graft] def statsFrame(spark: SparkSession, m: Meta): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(StructField("file", StringType) +:
      m.stats.flatMap { c =>
        val t = m.schema(c).dataType
        Seq(StructField(s"min_$c", t), StructField(s"max_$c", t))
      } :+ StructField("n_rows", LongType, nullable = false))
    val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(schema)
    val rows = m.files.map { f =>
      toRow(org.apache.spark.sql.catalyst.InternalRow.fromSeq(
        org.apache.spark.unsafe.types.UTF8String.fromString(f.path) +:
          f.bounds.flatMap { case (lo, hi) => Seq(lo, hi) } :+ f.rows))
        .asInstanceOf[org.apache.spark.sql.Row]
    }
    graft.plans.DriverEval.localFrame(spark, rows, schema)
  }

  /** The files of entry `m` whose `[min,max]` interval on `statsCol`
    * overlaps `[lo, hi]` — the [[statsFrame]] filtered on the driver
    * (O(files) metadata rows, the same planning every table format's
    * log does), never a data scan. */
  private def pruned(spark: SparkSession, m: Meta, statsCol: String,
                     lo: org.apache.spark.sql.Column,
                     hi: org.apache.spark.sql.Column): Seq[String] = {
    import org.apache.spark.sql.functions.col
    statsFrame(spark, m)
      .filter(col(s"max_$statsCol") >= lo && col(s"min_$statsCol") <= hi)
      .select("file").collect().map(_.getString(0)).toSeq
  }

  private[graft] def prunedFiles(spark: SparkSession, root: String, v: Long,
                                 statsCol: String,
                                 lo: org.apache.spark.sql.Column,
                                 hi: org.apache.spark.sql.Column): Seq[String] =
    pruned(spark, metaOf(spark, root, v), statsCol, lo, hi)

  /** Range read with file-level data skipping: consult the current
    * version's per-file stats and scan ONLY the files whose bounds
    * overlap `[lo, hi]`, with the residual `BETWEEN` filter still
    * applied (file granularity is coarse) and pushed into the parquet
    * scan. On a range-laid-out table this turns a full-table scan into
    * an O(selectivity) one BEFORE any file is opened — at 100 TB,
    * skipping a file this way saves even the footer round-trip that
    * row-group pruning would still pay. A column without stats falls
    * back to the plain filtered read. */
  def readCurrentPruned(spark: SparkSession, root: String, statsCol: String,
                        lo: org.apache.spark.sql.Column,
                        hi: org.apache.spark.sql.Column): DataFrame = {
    rangeRead(spark, metaOf(spark, root, headOf(spark, root)),
      Seq((statsCol, lo, hi)))
  }

  /** Read the version of entry `m` filtered to `lo ≤ c ≤ hi` on every
    * dimension `(c, lo, hi)`, `c` a logical name. The files opened are
    * those whose bounds overlap every dimension the entry has stats
    * for; a dimension without stats prunes nothing, and with none the
    * read is the plain filtered read of the version. */
  private def rangeRead(spark: SparkSession, m: Meta,
                        dims: Seq[(String, org.apache.spark.sql.Column,
                          org.apache.spark.sql.Column)]): DataFrame = {
    import org.apache.spark.sql.functions.col
    def inRange(name: String => String) = dims.map { case (c, lo, hi) =>
      col(name(c)) >= lo && col(name(c)) <= hi }.reduce(_ && _)
    val skipping = dims.filter(d => m.stats.contains(m.physical(d._1)))
    if (skipping.isEmpty)
      readResolved(spark, m).filter(inRange(identity))
    else {
      // physical files: prune and filter on the frozen physical names,
      // then present logical names
      val hit = skipping.map { case (c, lo, hi) =>
        pruned(spark, m, m.physical(c), lo, hi).toSet }.reduce(_ intersect _)
      val files = m.files.filter(f => hit(f.path))
      if (files.isEmpty) emptyOf(spark, m) // no overlap: no scan
      else toLogical(readFiles(spark, m, files).filter(inRange(m.physical)), m.colmap)
    }
  }

  /** Two-dimensional box read over a [[commitClustered]] table: the
    * surviving file set is the INTERSECTION of each dimension's
    * stats-pruned set, so a file is opened only when its (c1, c2)
    * stats box overlaps the query box — the read-side half of Z-order
    * clustering (on a single-column layout the scattered dimension's
    * prune returns every file and the intersection degrades to the
    * 1-D prune, never worse; a dimension without stats prunes
    * nothing). The residual predicate still applies and pushes into
    * the parquet scan. */
  def readCurrentPrunedBox(spark: SparkSession, root: String,
                           c1: String, lo1: org.apache.spark.sql.Column,
                           hi1: org.apache.spark.sql.Column,
                           c2: String, lo2: org.apache.spark.sql.Column,
                           hi2: org.apache.spark.sql.Column): DataFrame = {
    rangeRead(spark, metaOf(spark, root, headOf(spark, root)),
      Seq((c1, lo1, hi1), (c2, lo2, hi2)))
  }

  /** The live files of entry `m` whose BLOOM sketch on `bloomCol` might
    * contain `value`, probed in the bloom payloads the actions name. The
    * payloads are read through [[Layout.readParquet]]: at most one
    * split is read and probed on the driver; above that the probe runs
    * EXECUTOR-side (a filter over the payload scan), so only the
    * matching file NAMES ever reach the driver. The distinction is the
    * difference between O(matches) and O(files × sketch-bytes) driver
    * traffic: at the soak's own sizing (~18 KB/sketch) a million-file
    * table would otherwise ship ~18 GB through the driver per lookup.
    * A payload can also hold sketches of files a later commit
    * rewrote; only files the entry names are returned. A UDF is fine
    * here because this is metadata scale, never the data path. Blooms
    * never lose a file (no false negatives); false positives only add
    * reads. */
  private def pointFiles(spark: SparkSession, m: Meta, bloomCol: String,
                         value: Long): Seq[String] = {
    import org.apache.spark.sql.functions.{col, udf}
    val payloads = m.files.flatMap(_.bloom).distinct
    if (payloads.isEmpty) return Nil
    val live = m.files.map(_.path).toSet
    val mightContain = udf { bytes: Array[Byte] =>
      bytes != null && org.apache.spark.util.sketch.BloomFilter
        .readFrom(new java.io.ByteArrayInputStream(bytes))
        .mightContainLong(value)
    }
    Layout.readParquet(spark, payloads: _*)
      .filter(mightContain(col(s"bloom_$bloomCol")))
      .select("file").collect().map(_.getString(0)).filter(live).toSeq
  }

  private[graft] def filesForPoint(spark: SparkSession, root: String,
                                   v: Long, bloomCol: String,
                                   value: Long): Seq[String] =
    pointFiles(spark, metaOf(spark, root, v), bloomCol, value)

  /** Point lookup with BLOOM-index file skipping: scan ONLY the files
    * whose per-file bloom sketch might contain `value` — the skipping
    * tool for the column a range layout CANNOT serve (min/max bounds
    * on an unordered column span everything; a bloom prunes by
    * membership instead, the Delta bloom-index / Parquet bloom-filter
    * shape at file granularity). On a table whose values scatter a
    * key across few files, a point lookup opens those files plus the
    * sketch fpp, not the table. The residual equality filter still
    * applies and pushes into the parquet scan. Falls back to a plain
    * filtered read when the version carries no bloom for `pointCol`. */
  def readCurrentPoint(spark: SparkSession, root: String,
                       pointCol: String, value: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val m = metaOf(spark, root, headOf(spark, root))
    val physCol = m.physical(pointCol)
    if (!m.blooms.contains(physCol))
      readResolved(spark, m).filter(col(pointCol) === lit(value))
    else {
      val hit = pointFiles(spark, m, physCol, value).toSet
      val files = m.files.filter(f => hit(f.path))
      // definitively absent: no file can contain it
      if (files.isEmpty) emptyOf(spark, m)
      else toLogical(readFiles(spark, m, files)
        .filter(col(physCol) === lit(value)), m.colmap)
    }
  }

  /** Rewrite the `_CURRENT` hint to `v`. A concurrent writer may leave
    * it one version behind; [[currentVersion]]'s probe covers that. */
  private[graft] def setPointer(spark: SparkSession, root: String,
                                v: Long): Unit =
    replaceFile(spark, root, new org.apache.hadoop.fs.Path(root, Pointer), s"$v\n")

  /** Replace file `p` of table `root` with `body` atomically: a temp
    * file under `_log` (unique, so concurrent writers never share one),
    * then a rename over `p`. FileContext's OVERWRITE rename is the
    * atomic primitive on HDFS (plain FileSystem.rename refuses to
    * replace an existing destination). On the local FS Hadoop's
    * ChecksumFs renames the data file and its .crc sidecar as TWO
    * operations, so a concurrent read between them dies with
    * ChecksumException; NIO ATOMIC_MOVE with no sidecar at all is the
    * actually-atomic local swap. */
  private def replaceFile(spark: SparkSession, root: String,
                          p: org.apache.hadoop.fs.Path, body: String): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(root,
      s"$LogDir/.${p.getName}.${java.util.UUID.randomUUID()}.tmp")
    if ("file" == Option(p.toUri.getScheme).getOrElse("file")) {
      val nioTmp = java.nio.file.Paths.get(tmp.toUri.getPath)
      java.nio.file.Files.createDirectories(nioTmp.getParent)
      java.nio.file.Files.write(nioTmp, body.getBytes("UTF-8"))
      java.nio.file.Files.move(nioTmp, java.nio.file.Paths.get(p.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      val out = fsOf(spark, tmp).create(tmp, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
      org.apache.hadoop.fs.FileContext.getFileContext(
        p.toUri, spark.sparkContext.hadoopConfiguration)
        .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }

  /** Copy-on-write keyed MERGE as a snapshot commit: replace matching
    * keys with the change batch, keep the rest, commit the result as a
    * new version. Readers concurrent with the merge see the old
    * snapshot until the single put of the entry. One keyed shuffle over the
    * base (the change side is typically small and broadcasts).
    *
    * FILE-GRANULAR when the table carries per-file stats on the merge
    * key ([[commitWithStats]]): only the files whose `[min,max]` key
    * interval contains at least one change key are rewritten (survivor
    * rows anti-joined against the batch, batch unioned in); every other
    * file is carried into the new version BY REFERENCE, its action
    * copied into the new entry as in [[deleteWhere]]. On a key-laid-out
    * 100 TB table a merge touching 0.1% of the key space costs
    * O(matching files) of data I/O plus an O(files) entry write —
    * never a table rewrite; an insert-only batch (keys beyond every
    * file's range) rewrites ZERO base files and degenerates to an
    * append. The touch decision is a broadcast interval join of the
    * O(files) stats rows against the distinct change keys — metadata
    * mass, not data. Stats-less tables keep the full-rewrite path
    * (they have no skipping index to prove which files a key could
    * hide in). Semantics are identical on both paths, including NULL
    * keys (never equal to a change key, so NULL-key base rows survive;
    * an all-NULL-key file has NULL stats bounds and is carried) and
    * add-column evolution (carried files surface the new column as
    * NULL through the recorded-schema read, exactly as a rewritten
    * NULL would read).
    *
    * Serializable under concurrent merges: only an entry put at exactly
    * `head+1` commits, so a put that lands proves the base snapshot
    * read below is the true predecessor. A loser drops its attempt and
    * REPLANS the whole merge against the new head (its change batch is
    * never silently dropped). A crashed writer blocks nothing: it put no
    * entry, so the next merge takes the same version at once. */
  def mergeCommit(spark: SparkSession, root: String, changes: DataFrame,
                  key: String): Long =
    onHead(spark, root, "mergeCommit") { (base, m) => Some { dir =>
      // CHECK constraints: validate the CHANGE batch up front —
      // O(batch), and base rows were validated by their own commits,
      // so the merged result cannot introduce a violation elsewhere
      // (nothing is written yet)
      violationCounts(changes, m.constraints)
        .filter(_._2 > 0).headOption.foreach { case (n, c) =>
          throw new ConstraintViolation(n, c,
            s"merge into $root rejected: CHECK constraint `$n` " +
              s"failed on $c change row(s); head stays v=$base")
        }
      val cmap = m.colmap
      val physKey = m.physical(key)
      if (m.stats.contains(physKey)) {
        import org.apache.spark.sql.functions._
        // the entry's actions decide the rewrite set: O(files) metadata
        // rows, never a data scan
        val stats = statsFrame(spark, m)
          .select(col("file"), col(s"min_$physKey").as("kmin"),
            col(s"max_$physKey").as("kmax"))
        // touched = files whose key interval contains ≥1 change key:
        // broadcast the metadata-sized interval list, stream the keys
        // through it (BNLJ — non-equi, but one side is O(files) rows)
        val touched = changes.select(col(key).as("k"))
          .filter(col("k").isNotNull).distinct()
          .join(broadcast(stats),
            col("k") >= col("kmin") && col("k") <= col("kmax"), "inner")
          .select("file").distinct()
          .collect().map(_.getString(0)).toSet
        val (rewrite, untouched) = m.files.partition(f => touched(f.path))
        // survivors: touched files' rows whose key is NOT replaced.
        // Recorded-schema read (mixed generations after an evolution),
        // logical names for the anti-join, empty-but-full-schema
        // relation when no file overlaps (pure insert).
        val survivors =
          if (rewrite.nonEmpty)
            // deletion vectors apply to the rewrite read, so a MOR-deleted
            // row never re-materializes through a merge's rewrite
            toLogical(applyDv(spark, m,
                physReader(spark, m).parquet(rewrite.map(_.path): _*)),
              cmap).join(changes.select(key), Seq(key), "left_anti")
          else emptyOf(spark, m)
        val merged =
          changes.unionByName(survivors, allowMissingColumns = true)
        // Output width from the REWRITE mass (touched-file bytes,
        // floored at the touched-file count — one reader ≈ one
        // writer), never from the union's inherited partitioning: a
        // CDC batch filtered out of a wide corpus scan carries the
        // scan's near-empty splits, and writing through them exploded
        // a 72.6 MB band rewrite into 210 ~350 KB files (measured,
        // sf100 one-hop MergeSoak). Insert-only merges (no touched
        // files) size from the batch's plan estimate instead — an
        // in-memory over-estimate, so it only widens, clamped at cap.
        val cap = spark.sessionState.conf.numShufflePartitions
        val width =
          if (rewrite.nonEmpty)
            math.max(compactWidthFor(rewrite.map(_.size).sum, cap),
              math.min(rewrite.size, cap))
          else {
            val est = merged.queryExecution.optimizedPlan.stats.sizeInBytes
            compactWidthFor(
              if (est.isValidLong) est.toLong else Long.MaxValue, cap)
          }
        toPhysical(merged, cmap).coalesce(width).write.mode("overwrite")
          .parquet(dir)
        // untouched files ride by reference with their stats; the fresh
        // files' stats are derived and the recorded schema absorbs any
        // add-column evolution
        withFiles(spark, dir, m, untouched)
      } else {
        val baseDf = readResolved(spark, m)
        // allowMissingColumns: a change batch carrying a NEW column is
        // an add-column evolution (kept rows read NULL there), and a
        // batch without a recently-added column still merges (its rows
        // get NULL) — either way the union schema is recorded below
        val merged = changes.unionByName(
          baseDf.join(changes.select(key), Seq(key), "left_anti"),
          allowMissingColumns = true)
        // the merge is computed in LOGICAL names (changes and baseDf
        // both are); freeze back to physical before the write
        val physMerged = toPhysical(merged, cmap)
        physMerged.write.mode("overwrite").parquet(dir)
        // the stats columns carry forward, re-derived over the rewrite
        // (same contract as compact: maintenance must not silently
        // kill data skipping)
        withFiles(spark, dir, m.copy(schema = physMerged.schema), Nil)
      }
    } }

  /** Row-level DELETE with file-granular copy-on-write: remove every
    * row with `statsCol BETWEEN lo AND hi`, rewriting ONLY the files
    * whose per-file `[min,max]` stats overlap the range. Untouched
    * files are carried into the new version BY REFERENCE: the new
    * entry copies their actions — the Delta/Iceberg shape where a
    * version is a file LIST, not a directory copy — so at 100 TB a
    * selective delete costs O(matching files) of data I/O plus an
    * O(files) entry write, never a table rewrite. On a range-laid-
    * out table ([[commitWithStats]]'s contract) the overlap set IS the
    * selectivity.
    *
    * The carried actions keep their stats and the rewritten files'
    * stats are re-derived, so data skipping survives the delete. A
    * read-modify-write commit like [[mergeCommit]] (serializable).
    * Requires per-file stats on
    * `statsCol`: the skipping index is what makes the delete file-
    * granular (a stats-less table would degrade to a blind full
    * rewrite — refuse instead, the caller should commitWithStats).
    *
    * [[compact]] re-materializes a carrying version self-contained,
    * collapsing the reference chain; [[vacuum]] keeps any attempt
    * directory a retained entry still names. */
  def deleteWhere(spark: SparkSession, root: String, statsCol: String,
                  lo: org.apache.spark.sql.Column,
                  hi: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions._
    onHead(spark, root, "deleteWhere") { (base, m) =>
      // column mapping: the caller names the LOGICAL column; file
      // actions and the physical files know its frozen physical name
      val physCol = m.physical(statsCol)
      require(m.stats.contains(physCol),
        s"deleteWhere needs per-file stats on $statsCol (have: ${m.stats}) — " +
          "commit with commitWithStats to make deletes file-granular")
      Some { dir =>
        val touched = pruned(spark, m, physCol, lo, hi).toSet
        val (rewrite, untouched) = m.files.partition(f => touched(f.path))
        val between = col(physCol) >= lo && col(physCol) <= hi
        // SQL DELETE WHERE semantics: a NULL predicate does not delete.
        // A bare `!between` evaluates to NULL on NULL-key rows and the
        // filter would DROP them — but only in rewritten files (carried
        // files never evaluate the predicate), deleting NULL rows or not
        // based on which file they happened to share with an overlapping
        // range. coalesce pins NULL-key rows as survivors everywhere.
        val keep = !coalesce(between, lit(false))
        // rewrite ONLY the overlapping files, dropping matching rows;
        // a no-overlap delete writes nothing. The touched files are read
        // with the base's RECORDED schema: after an add-column evolution
        // they can mix generations, and plain inference would take one
        // file's schema and drop the later column from the rewrite.
        if (rewrite.nonEmpty) // DV-filtered: a COW rewrite of a file
          // with a deletion vector must not resurrect its deleted rows
          applyDv(spark, m, physReader(spark, m).parquet(rewrite.map(_.path): _*))
            .filter(keep).write.mode("overwrite").parquet(dir)
        withFiles(spark, dir, m, untouched)
      }
    }
  }

  /** Row-level DELETE, MERGE-ON-READ — Delta's deletion vectors: no
    * data file is rewritten for the delete itself. One aggregate job
    * over the base's files collects, per file, the positions
    * (`_metadata.row_index`) of the rows `cond` matches into a Roaring
    * bitmap; the driver ORs each into its file action's deletion
    * vector, which the entry holds inline. Every read path filters the
    * scan through the bitmaps ([[applyDv]]); [[Meta.rowCount]]
    * subtracts their cardinalities.
    *
    * This is the complement of [[deleteWhere]]'s copy-on-write: COW
    * wins when deletes CLUSTER (a range on the layout key rewrites few
    * files), MOR wins when they SCATTER — a predicate matching one row
    * in every file of a 100 TB table (the GDPR/right-to-be-forgotten
    * erasure shape, per-id scrubs) costs O(matched rows) of bitmap
    * here versus a full table rewrite there. The read-side price is one
    * per-row bitmap probe while a file carries a deletion vector. A
    * file whose deleted rows would pass [[MaxDeletedShare]] of its rows
    * is mostly dead weight to every read, so the same commit rewrites
    * it without them ([[rewriteLive]], as [[purgeDv]] does) — its
    * bitmap dies with it; every other file rides by reference.
    *
    * Composes with the rest of the layer: deletion vectors ride in the
    * file actions, so appends, metadata-only commits, restores and
    * shallow clones carry them verbatim; a file-granular merge or
    * delete drops them with the files it rewrites (DV-filtered);
    * [[compact]] and [[purgeDv]] clear them; time travel stays
    * version-pinned ([[readVersion]] of the pre-delete version still
    * sees the rows). `cond` is evaluated in LOGICAL names with SQL
    * DELETE semantics (a NULL predicate deletes nothing).
    * Serializable, like every read-modify-write commit.
    *
    * Streaming append-tails are strictly SAFER under MOR than under
    * COW deletes: a commit that rewrites no file adds no data file, so
    * a running tail sees nothing — no rewritten files interleaving
    * already-emitted rows, which is the case
    * [[graft.streaming.Streaming.tailVacuumAudit]] exists to refuse.
    * (File tails never retract rows on any engine; deletes reach
    * streaming consumers through [[changeFeed]].) Returns the
    * committed version. */
  def deleteWhereMor(spark: SparkSession, root: String,
                     cond: org.apache.spark.sql.Column): Long =
    onHead(spark, root, "deleteWhereMor") { (_, m) => Some { dir =>
      import org.apache.spark.sql.functions._
      // rows an existing bitmap already deletes may match again: the
      // OR below absorbs them, so the scan needs no DV filter
      val hits = toLogical(physReader(spark, m).parquet(scanPaths(m): _*)
          .withColumn("__mor_file", col("_metadata.file_path"))
          .withColumn("__mor_idx", col("_metadata.row_index")), m.colmap)
        .filter(coalesce(cond, lit(false)))
        .groupBy("__mor_file")
        .agg(udaf(RowSet, Encoders.scalaLong)(col("__mor_idx")))
        .collect()
      // a hit on a file no action names fails the lookup loudly: it
      // would otherwise be dropped and the row resurrect
      val byScan = m.files.map(f => scanForm(f.path) -> f.path).toMap
      val fresh = hits.map(r =>
        byScan(r.getString(0)) -> bitmapOf(r.getAs[Array[Byte]](1))).toMap
      // each fresh bitmap is this commit's own: OR the base's into it
      val files = m.files.map(f => fresh.get(f.path).fold(f) { b =>
        f.dv.foreach(b.or)
        f.copy(dv = Some(b))
      })
      val (heavy, light) = files.partition(f => f.deleted > f.rows * MaxDeletedShare)
      val next = m.copy(files = files)
      if (heavy.isEmpty) next else rewriteLive(spark, dir, next, heavy, light)
    } }

  /** The share of a file's rows past which [[deleteWhereMor]] rewrites
    * the file without its deleted rows instead of extending its
    * deletion vector. */
  private val MaxDeletedShare = 0.5

  /** The row positions of one file as a typed aggregate: a Roaring
    * bitmap buffer per group, merged across partitions, finished as its
    * portable serialization ([[bitmapOf]] reads it back). */
  private object RowSet extends org.apache.spark.sql.expressions.Aggregator[
      Long, Roaring64NavigableMap, Array[Byte]] {
    def zero: Roaring64NavigableMap = new Roaring64NavigableMap()
    def reduce(b: Roaring64NavigableMap, row: Long): Roaring64NavigableMap = {
      b.addLong(row); b
    }
    def merge(a: Roaring64NavigableMap, b: Roaring64NavigableMap): Roaring64NavigableMap = {
      a.or(b); a
    }
    def finish(b: Roaring64NavigableMap): Array[Byte] = bitmapBytes(b)
    def bufferEncoder: Encoder[Roaring64NavigableMap] =
      Encoders.javaSerialization[Roaring64NavigableMap]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** The entry of a commit into attempt directory `dir` that rewrites
    * the `touched` actions of `m` without their deleted rows and
    * carries `kept` by reference; a file whose every row is deleted is
    * dropped unread. Output width follows the rewritten bytes, FLOORED
    * at their file count: bytes alone under-width hyper-compressed
    * tables (the soak fixture packs 150M rows into 119 MB → width 1 → a
    * one-task whole-corpus rewrite, measured 277 s at sf100); matching
    * the input file count keeps one reader ≈ one writer and never
    * explodes small files. */
  private def rewriteLive(spark: SparkSession, dir: String, m: Meta,
                          touched: Seq[FileAction], kept: Seq[FileAction]): Meta = {
    val read = touched.filter(f => f.deleted < f.rows)
    if (read.nonEmpty) {
      val cap = spark.sessionState.conf.numShufflePartitions
      val width = math.max(compactWidthFor(read.map(_.size).sum, cap),
        math.min(read.size, cap))
      applyDv(spark, m, physReader(spark, m).parquet(read.map(_.path): _*))
        .coalesce(width)
        .write.mode("overwrite").parquet(dir)
    }
    withFiles(spark, dir, m, kept)
  }

  /** PURGE the deletion vectors — Delta's `REORG TABLE … APPLY
    * (PURGE)` as a first-class maintenance pass: rewrite exactly the
    * files whose actions carry a bitmap ([[rewriteLive]]: DV-filtered,
    * so the deleted rows vanish from the bytes) and carry every clean
    * file into the new version by reference, after which reads pay no
    * filter again. Where [[compact]] rewrites the whole table, this
    * touches O(deleted-from file bytes): on a table whose deletes
    * clustered in a few files, the purge reads those files, not the
    * table. (A fully scattered delete — of23's GDPR shape — marks every
    * file, and purge degrades to compact's cost; both points measured
    * in BENCH_NOTES.) No-op (current version returned, no commit
    * burned) on a table without deletion vectors. */
  def purgeDv(spark: SparkSession, root: String): Long =
    onHead(spark, root, "purgeDv") { (_, m) =>
      val (touched, clean) = m.files.partition(_.dv.isDefined)
      Option.when(touched.nonEmpty)(dir => rewriteLive(spark, dir, m, touched, clean))
    }

  /** ADD a named CHECK constraint (the Delta `ALTER TABLE ... ADD
    * CONSTRAINT ... CHECK (...)` shape): validate that the CURRENT
    * data already satisfies `exprSql` (one column-pruned aggregate
    * scan — refused with the violation count otherwise, no version
    * burned), then commit a METADATA-ONLY version carrying every file
    * by reference (zero data I/O at any table size). From
    * that version on, every [[commit]]/[[appendCommit]]/[[mergeCommit]]
    * batch is validated before the put and rejected
    * atomically on violation ([[ConstraintViolation]]) — the
    * write-side quality gate a 100 TB ingest pipeline runs on, where a
    * bad batch must die at the boundary instead of poisoning the
    * table. NULL predicate rows pass (SQL CHECK semantics).
    * Maintenance passes ([[compact]], [[deleteWhere]], [[vacuum]])
    * skip re-validation: they only rearrange or remove already-
    * validated rows. */
  def addCheckConstraint(spark: SparkSession, root: String,
                         name: String, exprSql: String): Long =
    onHead(spark, root, "addCheckConstraint") { (base, m) =>
      require(!m.constraints.exists(_._1 == name),
        s"constraint `$name` already exists on $root")
      violationCounts(readResolved(spark, m),
          Seq((name, exprSql))).filter(_._2 > 0)
        .headOption.foreach { case (n, c) =>
          throw new ConstraintViolation(n, c,
            s"cannot add CHECK constraint `$n` to $root: existing data " +
              s"violates it on $c row(s)")
        }
      Some { _ => m.copy(constraints =
        (m.constraints :+ (name -> exprSql)).sortBy(_._1)) }
    }

  /** DROP a CHECK constraint by name — a metadata-only version whose
    * constraint set omits it; later versions stop enforcing while
    * time-travel reads of earlier versions still report it through
    * [[checkConstraintsOf]]. */
  def dropCheckConstraint(spark: SparkSession, root: String,
                          name: String): Long =
    onHead(spark, root, "dropCheckConstraint") { (base, m) =>
      require(m.constraints.exists(_._1 == name),
        s"no constraint `$name` on $root (have: " +
          s"${m.constraints.map(_._1).mkString(", ")})")
      Some { _ => m.copy(constraints = m.constraints.filterNot(_._1 == name)) }
    }

  /** METADATA-ONLY column RENAME (the Delta column-mapping / Iceberg
    * field-ID motion): physical names are frozen at first commit, so a
    * rename writes only an entry with a new `(physical, logical)` map
    * that carries every file action by reference — zero data I/O
    * at any table size. From then on readers alias physical → logical
    * after the scan, writers translate logical → physical before it
    * ([[commit]]/[[appendCommit]]/[[mergeCommit]] accept batches in
    * the NEW names), stats/bloom skipping keys stay physical (pruned
    * reads translate), renames COMPOSE (a→b→c keeps one map entry),
    * and [[changeFeed]] crosses the boundary as pure renames. Old
    * versions still read under the names they had. Refused when the
    * source column is missing, the target name is taken, or an active
    * CHECK constraint references the column (constraints are authored
    * in logical names — rename would silently detach them). Like the
    * constraint sets, the mapping persists across [[restore]]:
    * metadata history is orthogonal to data history. */
  def renameColumn(spark: SparkSession, root: String,
                   from: String, to: String): Long =
    onHead(spark, root, "renameColumn") { (base, m) =>
      val logicalNames = m.logicalNames.toSet
      require(logicalNames.contains(from),
        s"no column `$from` in $root (have: ${logicalNames.mkString(", ")})")
      require(!logicalNames.contains(to),
        s"column `$to` already exists in $root")
      m.constraints.foreach { case (n, e) =>
        require(!e.contains(from),
          s"rename of `$from` refused: CHECK constraint `$n` ($e) " +
            "references it — drop the constraint first")
      }
      val phys = m.physical(from)
      // renames compose to one entry per physical column; identity
      // entries (renamed back to the physical name) drop out
      val composed = (m.colmap.filterNot(_._1 == phys) :+ (phys -> to))
        .filterNot(p => p._1 == p._2).sortBy(_._1)
      Some { _ => m.copy(colmap = composed) }
    }

  /** METADATA-ONLY column DROP (the other half of the column-mapping
    * story beside [[renameColumn]]): the new version records the
    * table's physical schema WITHOUT the column and carries every
    * file action by reference — zero data I/O at any table
    * size. Carried files still physically contain the bytes, but the
    * recorded schema governs every read, so the vectorized reader
    * never materializes the column (dropping is also a read-cost
    * optimization, not just a logical one); old versions read under
    * the schema they had, so time travel still sees the column.
    *
    * The dropped PHYSICAL name is tombstoned: an [[appendCommit]]
    * batch that reintroduces it is refused, because the merged schema
    * would otherwise resurrect the carried files' old values next to
    * the batch's new ones — silent corruption. A retired name stays
    * retired (the Iceberg/Delta field-id discipline — ids are never
    * reused); evolve under a fresh logical name instead.
    * [[mergeCommit]] needs no guard: it rewrites the table from the
    * resolved (post-drop) read, so a change batch re-adding the name
    * is an ordinary add-column evolution with NULLs for kept rows.
    * Refused when the column is missing, is the table's last column,
    * or an active CHECK constraint references it. */
  def dropColumn(spark: SparkSession, root: String, colName: String): Long =
    onHead(spark, root, "dropColumn") { (base, m) =>
      val logicalNames = m.logicalNames.toSet
      require(logicalNames.contains(colName),
        s"no column `$colName` in $root (have: ${logicalNames.mkString(", ")})")
      require(logicalNames.size > 1,
        s"refusing to drop `$colName`: it is the last column of $root")
      m.constraints.foreach { case (n, e) =>
        require(!e.contains(colName),
          s"drop of `$colName` refused: CHECK constraint `$n` ($e) " +
            "references it — drop the constraint first")
      }
      // a stats/bloom key cannot be dropped in place: later appends
      // re-derive fresh per-file stats over the entry's columns and
      // would aggregate a column the new files no longer have
      val phys = m.physical(colName)
      require(!(m.stats ++ m.blooms).contains(phys),
        s"drop of `$colName` refused: it keys the data-skipping index " +
          "— recommit with different stats columns first")
      // the physical schema minus the field; the mapping entry (if
      // any) retires with the column and its physical name is retired
      Some { _ => m.copy(
        schema = StructType(m.schema.fields.filterNot(_.name == phys)),
        colmap = m.colmap.filterNot(_._1 == phys),
        dropped = m.dropped + phys) }
    }

  /** Reference-carrying APPEND: commit `df` as NEW files while every
    * existing file rides into the new version by reference — an
    * O(batch) write at any table size, vs [[commit]]'s full rewrite
    * (the incremental-ingest shape: a CDC/stream consumer lands each
    * batch in one append, and scan cost is controlled afterwards by
    * [[compactSmall]]). Stats carry verbatim for referenced files and
    * are re-derived over just the appended ones. The first commit on
    * an empty table is the same loop with no head to carry. Note appends are
    * ADDITIVE by contract: same-key rows accumulate (use
    * [[mergeCommit]] for upsert semantics). */
  def appendCommit(df: DataFrame, root: String): Long = {
    val spark = df.sparkSession
    commitLoop(spark, root) { (base, hm) =>
      // an empty table takes the batch's own schema
      val m = if (base.isEmpty) Meta(df.schema) else hm
      // tombstone guard (see [[dropColumn]]): a batch whose
      // physical names include a dropped column would make the
      // merged schema resurrect carried files' old values. Only
      // names ABSENT from the base's live schema are refused — a
      // [[restore]] to a pre-drop version puts the column back in
      // the schema, and appending it there is consistent (carried
      // files all hold real values again).
      val physBatch = toPhysical(df, m.colmap)
      val revived = physBatch.columns.toSet
        .intersect(m.dropped) -- m.schema.fieldNames
      require(revived.isEmpty,
        s"append to $root refused: column(s) ${revived.mkString(", ")} " +
          "were dropped and their physical names are retired — " +
          "use a fresh logical name")
      var fresh: Fresh = null
      Some(Plan(
        dir => {
          // column mapping: logical batch → frozen physical names
          physBatch.write.mode("overwrite").parquet(dir)
          // enforce on the APPENDED files only — carried rows were
          // validated by the commits that wrote them
          enforceWritten(spark, root, dir, m)
          fresh = freshOf(spark, dir, m)
          carry(m, m.files, fresh)
        },
        // a lost put re-carries the winner's actions around the same
        // fresh files, with no job: the attempt is never rewritten, so
        // a tail never lists its rows twice
        (_, m2) => Option.when(binding(m2) == binding(m))(
          carry(m2, m2.files, fresh))))
    }
  }

  /** The files a commit wrote into its attempt directory: the schema
    * their footers carry (None when it wrote none) and their file
    * actions. */
  private final case class Fresh(schema: Option[StructType],
                                 actions: Seq[FileAction])

  /** The [[Fresh]] files of attempt `dir`, with stats over the columns
    * of `m`, the entry they are committed on top of (any new column of
    * the files is appended to its schema: one footer read — a commit
    * batch is schema-uniform). */
  private def freshOf(spark: SparkSession, dir: String, m: Meta): Fresh = {
    val files = parquetFiles(spark, new org.apache.hadoop.fs.Path(dir))
    val footer = files.headOption.map(Layout.footerSchema(spark, _))
    Fresh(footer, freshActions(spark, dir, files,
      footer.fold(m.schema)(mergedSchema(m.schema, _)), m.stats, m.blooms))
  }

  /** The new version's entry for a commit that keeps `carried` of the
    * actions of `m` (the base's entry, with the commit's metadata edit)
    * and adds the files of attempt `dir`. */
  private def withFiles(spark: SparkSession, dir: String, m: Meta,
                        carried: Seq[FileAction]): Meta =
    carry(m, carried, freshOf(spark, dir, m))

  /** Entry `m` keeping its `carried` actions and adding the `fresh`
    * ones. The carried actions ride verbatim with their stats and
    * deletion vectors, so a carry runs no job. */
  private def carry(m: Meta, carried: Seq[FileAction], fresh: Fresh): Meta =
    m.copy(schema = fresh.schema.fold(m.schema)(mergedSchema(m.schema, _)),
      files = carried ++ fresh.actions)

  /** Incremental small-file compaction (the OPTIMIZE maintenance pass
    * a CDC- or delete-churned table needs): bin-pack ONLY the files
    * under `smallBytes` into ~`targetBytes` outputs and carry every
    * already-well-sized file into the new version by reference. Where
    * [[compact]] rewrites the whole table (collapsing reference chains
    * for vacuum), this touches O(small-file bytes) — on a 100 TB table
    * whose churn left a few thousand 1 MB merge outputs beside
    * thousand-file terabytes of settled data, the rewrite reads
    * megabytes, not the table. A no-op (≤1 small file) returns the
    * current version without committing. Stats carry the same way as
    * [[deleteWhere]]'s, so data skipping survives. */
  def compactSmall(spark: SparkSession, root: String,
                   smallBytes: Long = 32L * 1024 * 1024,
                   targetBytes: Long = 128L * 1024 * 1024): Long =
    onHead(spark, root, "compactSmall") { (_, m) =>
      val (small, large) = m.files.partition(_.size < smallBytes)
      // ≤1 small file: already compact, no new version
      if (small.size <= 1) None else Some { dir =>
        val nOut = math.max(1L,
          (small.map(_.size).sum + targetBytes - 1) / targetBytes).toInt
        // coalesce, not repartition: bin-packing needs no shuffle.
        // Recorded schema for the same mixed-generation reason as
        // deleteWhere's rewrite — small files can straddle an
        // add-column evolution boundary.
        applyDv(spark, m, physReader(spark, m)
            .parquet(small.map(_.path): _*)).coalesce(nOut)
          .write.mode("overwrite").parquet(dir)
        withFiles(spark, dir, m, large)
      }
    }

  /** SHALLOW CLONE: materialize a NEW table at `dstRoot` whose first
    * version REFERENCES the source's current files — the Delta
    * `CREATE TABLE ... SHALLOW CLONE` shape: zero data I/O at any table
    * size and no Spark job (one entry: the source head's, whose
    * actions name the source's files and bloom payloads by absolute
    * path and hold their deletion vectors), after which the clone
    * evolves independently (merges/deletes on the clone write THEIR new
    * files under `dstRoot` while untouched data keeps riding the
    * source's files — the everyday dev/test-against-prod and
    * experiment-branch motion). Data skipping works on the clone from
    * the first read, and the source's deletion vectors stay applied. A
    * metadata-only commit of version 1 on the destination, which must
    * be a fresh root.
    *
    * Same caveat as Delta documents: the clone borrows the source's
    * RETENTION — vacuuming the source can collect files a clone still
    * references (the source does not know its clones). Pin clones to
    * sources with compatible retention, or [[compact]] the clone to
    * self-contain it. */
  def shallowClone(spark: SparkSession, srcRoot: String,
                   dstRoot: String): Long = {
    val srcV = currentVersion(spark, srcRoot).getOrElse(
      throw new java.util.NoSuchElementException(
        s"snapshot table $srcRoot has no committed version to clone"))
    val srcM = metaOf(spark, srcRoot, srcV)
    commitLoop(spark, dstRoot) { (base, _) =>
      require(base.isEmpty,
        s"shallowClone target $dstRoot already has versions — clone " +
          "into a fresh root")
      Some(Plan(_ => srcM))
    }
  }

  /** RESTORE: roll the table back to retained version `toV` as a NEW
    * commit — history moves forward only (the bad versions stay
    * readable for forensics until vacuumed), and the restore itself is
    * a METADATA-ONLY commit: the new entry takes `toV`'s file actions,
    * stats and deletion vectors verbatim, so restoring a 100 TB table
    * writes one entry, never data, and data skipping survives. A
    * read-modify-write commit like every other. */
  def restore(spark: SparkSession, root: String, toV: Long): Long =
    onHead(spark, root, "restore") { (base, m) =>
      if (base == toV) None else {
        // toV's files come back with toV's schema; the head's
        // constraints, column map, dropped set and rule stay — metadata
        // history is orthogonal to data history
        val toM = metaOf(spark, root, toV)
        Some { _ => m.copy(schema = toM.schema,
          files = toM.files, stats = toM.stats, blooms = toM.blooms) }
      }
    }

  /** Change feed between two retained versions (the lakehouse CDF
    * read): a keyed full-outer join of the `from` and `to` snapshots
    * classifies every key as `insert` (absent before), `delete`
    * (absent after), or `update` (present in both with any non-key
    * column changed — compared via a canonical struct so NULLs compare
    * equal); unchanged keys are dropped. Emits the post-image for
    * inserts/updates and the pre-image for deletes, tagged in
    * `_change`.
    *
    * 100 TB shape: ONE keyed shuffle joining exactly the two version
    * directories — the feed derives from committed data, needing no
    * write-path logging, and downstream incremental consumers (e.g.
    * [[graft.operators.Relational.resampleIncremental]]'s touched-user
    * refresh) read ONLY this diff instead of the full snapshot. */
  def changeFeed(spark: SparkSession, root: String, key: String,
                 fromV: Long, toV: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    // Both sides presented under the NEWER version's logical names, so
    // the feed crosses a metadata-only RENAME boundary as pure renames
    // (same physical column, no spurious delete+insert): re-base the
    // older side physical → toV's map.
    val toM = metaOf(spark, root, toV)
    val a = toLogical(
      readPhysical(spark, metaOf(spark, root, fromV)),
      toM.colmap)
    val b = readResolved(spark, toM)
    // Align both snapshots to the UNION of their columns so the feed
    // crosses an add-column evolution boundary: a column absent on one
    // side reads as NULL there (its pre-image before the column
    // existed), and the null-safe struct compare below then classifies
    // a row as `update` only when a real value differs — an old row
    // whose new column is still NULL on both sides stays unchanged.
    // Same-name/different-type drift is still not a row change feed.
    val types = (a.schema.fields ++ b.schema.fields)
      .map(f => f.name -> f.dataType).toMap
    a.schema.fields.foreach { f =>
      require(types(f.name) == f.dataType,
        s"column ${f.name} changed type between v$fromV and v$toV — " +
          "not a row change feed")
    }
    val aCols = a.columns.toSet
    val dataCols = (a.columns ++ b.columns.filterNot(aCols.contains))
      .filterNot(_ == key).toSeq
    def aligned(df: DataFrame): Seq[org.apache.spark.sql.Column] = {
      val have = df.columns.toSet
      dataCols.map(c =>
        if (have(c)) col(c) else lit(null).cast(types(c)).as(c))
    }
    val pre = a.select(col(key).as("k"), struct(aligned(a): _*).as("pre"))
    val post = b.select(col(key).as("k"), struct(aligned(b): _*).as("post"))
    pre.join(post, Seq("k"), "full_outer")
      .withColumn("_change",
        when(col("pre").isNull, "insert")
          .when(col("post").isNull, "delete")
          // null-safe struct equality: <=> compares field-wise with
          // NULL == NULL, so an update is any real field difference
          .when(!(col("pre") <=> col("post")), "update"))
      .filter(col("_change").isNotNull)
      .select(Seq(col("k").as(key), col("_change")) ++
        dataCols.map(c =>
          when(col("_change") === "delete", col(s"pre.$c"))
            .otherwise(col(s"post.$c")).as(c)): _*)
  }

  /** The oracle-certified [[changeFeed]] venue (`of7_change_feed`):
    * two snapshot versions derived DETERMINISTICALLY from the orders
    * fixture — v1 drops keys ≡3 (mod 10) (v2's inserts), v2 drops keys
    * ≡7 (deletes) and doubles o_totalprice on keys ≡0 (updates) — so
    * the feed is a pure function of the fixture and DuckDB can replay
    * the identical full-outer diff without any snapshot machinery. */
  def changeFeedDemo(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val o = graft.sources.Tables.table(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val v1 = o.filter(col("o_orderkey") % 10 =!= 3)
    val v2 = o.filter(col("o_orderkey") % 10 =!= 7)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 10 === 0, col("o_totalprice") * 2)
          .otherwise(col("o_totalprice")))
    val root = graft.util.Scratch.dir("graft_cdf_")
    commit(v1, root)
    commit(v2, root)
    changeFeed(spark, root, "o_orderkey", fromV = 1L, toV = 2L)
      .orderBy("o_orderkey")
  }

  /** The oracle-certified [[deleteWhere]] venue (`of8_delete_where`):
    * lineitem range-laid-out on `l_orderkey` into 8 disjoint-bound
    * files, committed with stats, then a selective key-range delete of
    * `[1, floor(max/5)]`. With the range layout, ~1/5 of the files
    * overlap the range and get rewritten; the rest ride into v2 by
    * reference (file-granularity is spec-pinned in
    * SnapshotSpec — this query certifies VALUES). DuckDB replays the
    * surviving rows straight off the fixture, certifying the
    * file-granular machinery is exactly a row filter: no lost rows
    * from referenced files, no survivors from rewritten ones. */
  def deleteDemo(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val li = graft.sources.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
    // footer probe feeds both the delete bound and the commit width
    // (r14: exact metadata, no probe job; r15: one combined walk —
    // each footer opened once)
    val (hi, rows) = Layout.footerCountAndMax(
        spark, s"$sfDir/lineitem.parquet", Seq("l_orderkey")) match {
      case (n, m) if m("l_orderkey").isDefined =>
        (m("l_orderkey").get / 5, n)
      case _ =>
        val probe = li.agg(floor(max(col("l_orderkey")) / 5),
          count(lit(1))).head()
        (probe.getLong(0), probe.getLong(1))
    }
    val root = graft.util.Scratch.dir("graft_del_")
    commitWithStats(
      li.repartitionByRange(derivedCommitFiles(rows), col("l_orderkey"))
        .sortWithinPartitions("l_orderkey"),
      root, Seq("l_orderkey"))
    deleteWhere(spark, root, "l_orderkey", lit(1L), lit(hi))
    readCurrent(spark, root)
      .groupBy((col("l_orderkey") % 7).as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(12,2)")).cast("double")
          .as("sum_qty"),
        min(col("l_orderkey")).as("min_key"),
        max(col("l_orderkey")).as("max_key"))
      .orderBy("bucket")
  }

  /** The oracle-certified [[restore]] venue (`of9_restore`): commit
    * orders range-laid-out with stats, damage it with a key-range
    * delete, then roll back to v1. The restore is metadata-only (spec-
    * pinned in SnapshotSpec); this query certifies VALUES — the
    * restored table must be indistinguishable from the fixture, which
    * DuckDB replays directly. */
  def restoreDemo(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val o = graft.sources.Tables.table(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val root = graft.util.Scratch.dir("graft_restore_")
    commitWithStats(
      o.repartitionByRange(derivedCommitFiles(
            Layout.footerRowCount(spark, s"$sfDir/orders.parquet")),
          col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"),
      root, Seq("o_orderkey"))
    deleteWhere(spark, root, "o_orderkey", lit(1L), lit(1000L))
    restore(spark, root, 1L)
    readCurrent(spark, root)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(12,2)")).cast("double")
          .as("sum_price"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy("o_orderstatus")
  }

  /** The oracle-certified [[readCurrentPoint]] venue (`of10_point_lookup`):
    * lineitem range-laid-out on `l_orderkey` (so `l_partkey` values
    * scatter across files and min/max bounds on it are useless) with a
    * per-file bloom index on `l_partkey`, then a point lookup of the
    * smallest part key. The bloom picks the few files holding that
    * key's rows (file-skipping is spec-pinned in SnapshotSpec); this
    * query certifies VALUES — the lookup must return exactly the
    * fixture's rows for that key, which DuckDB replays directly. */
  def pointLookupDemo(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val li = graft.sources.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    // lookup key + commit width from footer metadata (r15: one walk,
    // no probe job; parquet int min statistics are exact)
    val (pk, rows) = Layout.footerCountAndMinMax(
        spark, s"$sfDir/lineitem.parquet", Seq("l_partkey")) match {
      case (n, m) if m("l_partkey").isDefined => (m("l_partkey").get._1, n)
      case _ =>
        val probe = li.agg(min(col("l_partkey")), count(lit(1))).head()
        (probe.getLong(0), probe.getLong(1))
    }
    val root = graft.util.Scratch.dir("graft_point_")
    commitWithStats(
      li.repartitionByRange(derivedCommitFiles(rows), col("l_orderkey"))
        .sortWithinPartitions("l_orderkey"),
      root, Seq("l_orderkey"), bloomCols = Seq("l_partkey"))
    readCurrentPoint(spark, root, "l_partkey", pk)
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(12,2)")).cast("double")
          .as("sum_qty"),
        min(col("l_orderkey")).as("min_okey"),
        max(col("l_orderkey")).as("max_okey"))
      .orderBy("l_partkey")
  }

  /** The oracle-certified schema-evolution venue
    * (`of12_schema_evolution`): v1 commits orders `(o_orderkey,
    * o_totalprice)` range-laid-out with stats for keys ≢3 (mod 10);
    * an [[appendCommit]] then lands the ≡3 batch WITH a new `o_flag`
    * column (`o_orderkey % 2`) — the first thing a real Delta/Iceberg
    * user does. The recorded per-version schema makes the mixed-
    * generation read explicit-schema (old files' `o_flag` reads NULL,
    * zero footer inference); DuckDB replays the union with NULL flags
    * on the old slice, certifying no row is lost or mis-flagged across
    * the boundary. Old-version reads keeping the OLD schema and the
    * change feed crossing the boundary are spec-pinned (SnapshotSpec);
    * this query certifies VALUES. */
  def schemaEvolutionDemo(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val o = graft.sources.Tables.table(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    val root = graft.util.Scratch.dir("graft_evo_")
    val keep = o.filter(col("o_orderkey") % 10 =!= 3)
    // r15: width from the base-table footer count (an upper bound on
    // the 9/10 survivor set — smaller files, the safe direction; see
    // renameDemo) instead of a full keep.count() sizing pass
    commitWithStats(
      keep.repartitionByRange(derivedCommitFiles(
            Layout.footerRowCount(spark, s"$sfDir/orders.parquet")),
          col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"),
      root, Seq("o_orderkey"))
    appendCommit(
      o.filter(col("o_orderkey") % 10 === 3)
        .withColumn("o_flag", col("o_orderkey") % 2),
      root)
    readCurrent(spark, root)
      .groupBy(col("o_flag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(12,2)")).cast("double")
          .as("sum_price"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy(asc_nulls_first("o_flag"))
  }

  /** The column-mapping venue (`of18_rename_column`): commit a
    * stats-carrying orders slice, RENAME `o_totalprice` → `o_price`
    * (pure metadata — the physical files and the skipping index are
    * untouched), land an append that already speaks the NEW name, and
    * read three ways in one result: the current table under the new
    * name, version 1 under the OLD name it was committed with, and a
    * stats-pruned range read addressed by logical name. The oracle
    * replays all three slices from the fixture — a rename that
    * rewrote, dropped, or mis-aliased anything cannot hash-match. */
  def renameDemo(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val orders = graft.sources.Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val root = graft.util.Scratch.dir("graft_rename_")
    val keep = orders.filter(col("o_orderkey") % 10 =!= 3)
    // r14: width and range cut from footer metadata — the survivor
    // count is bounded above by the base count (9/10 of it here), and
    // upper-bound sizing errs toward smaller files, the safe
    // direction; the old keep.count()/max() pair was two extra full
    // passes per venue run. r15: count+max in ONE footer walk.
    val (baseRows, baseMax) = Layout.footerCountAndMax(
      spark, s"$sfDir/orders.parquet", Seq("o_orderkey"))
    commitWithStats(
      keep.repartitionByRange(derivedCommitFiles(baseRows),
          col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"),
      root, Seq("o_orderkey"))
    renameColumn(spark, root, "o_totalprice", "o_price")
    appendCommit(
      orders.filter(col("o_orderkey") % 10 === 3)
        .withColumnRenamed("o_totalprice", "o_price"),
      root)
    val cut = baseMax("o_orderkey")
      .getOrElse(orders.agg(max(col("o_orderkey"))).head().getLong(0)) / 5
    def side(df: DataFrame, priceCol: String, label: String) =
      df.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col(priceCol).cast("decimal(12,2)")).cast("double")
            .as("sum_price"))
        .withColumn("part", lit(label))
    side(readCurrent(spark, root), "o_price", "current")
      .unionByName(side(readVersion(spark, root, 1L),
        "o_totalprice", "v1_oldname"))
      .unionByName(side(
        readCurrentPruned(spark, root, "o_orderkey", lit(1L), lit(cut)),
        "o_price", "pruned"))
      .select("part", "o_orderstatus", "n_rows", "sum_price")
      .orderBy("part", "o_orderstatus")
  }

  /** The DROP-COLUMN venue (`of20_drop_column`): commit a
    * stats-carrying orders slice, DROP `o_totalprice` (pure metadata —
    * files and skipping index untouched), land an append WITHOUT the
    * column, certify the tombstone guard (an append reintroducing the
    * retired name is refused, counted in the result), and read three
    * ways: the current 2-column table, version 1 still showing the
    * column with its full pre-drop sum (zero data was rewritten), and
    * a stats-pruned range read. Each side carries its observed column
    * COUNT, so a drop that leaked the column into current reads — or
    * ate it from time travel — cannot hash-match. */
  def dropDemo(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val orders = graft.sources.Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val root = graft.util.Scratch.dir("graft_drop_")
    val keep = orders.filter(col("o_orderkey") % 10 =!= 3)
    // r14: footer-derived width (upper-bound sizing — see renameDemo);
    // r15: count+max in ONE footer walk
    val (baseRows, baseMax) = Layout.footerCountAndMax(
      spark, s"$sfDir/orders.parquet", Seq("o_orderkey"))
    commitWithStats(
      keep.repartitionByRange(derivedCommitFiles(baseRows),
          col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"),
      root, Seq("o_orderkey"))
    dropColumn(spark, root, "o_totalprice")
    appendCommit(
      orders.filter(col("o_orderkey") % 10 === 3).drop("o_totalprice"),
      root)
    // the guard: reintroducing the retired physical name must refuse
    val refused =
      try { appendCommit(orders.limit(1), root); 0L }
      catch { case _: IllegalArgumentException => 1L }
    val cut = baseMax("o_orderkey")
      .getOrElse(orders.agg(max(col("o_orderkey"))).head().getLong(0)) / 5
    def side(df: DataFrame, label: String) = {
      val priceAgg =
        if (df.columns.contains("o_totalprice"))
          sum(col("o_totalprice").cast("decimal(12,2)")).cast("double")
        else max(lit(null).cast("double"))
      df.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"), priceAgg.as("sum_price"))
        .withColumn("n_cols", lit(df.columns.length))
        .withColumn("part", lit(label))
    }
    side(readCurrent(spark, root), "current")
      .unionByName(side(readVersion(spark, root, 1L), "v1_predrop"))
      .unionByName(side(
        readCurrentPruned(spark, root, "o_orderkey", lit(1L), lit(cut)),
        "pruned"))
      .unionByName(spark.range(1).select(
        lit(null).cast("string").as("o_orderstatus"),
        lit(refused).as("n_rows"),
        lit(null).cast("double").as("sum_price"),
        lit(2).as("n_cols"), lit("refused").as("part")))
      .select("part", "o_orderstatus", "n_rows", "n_cols", "sum_price")
      .orderBy(asc("part"), asc_nulls_first("o_orderstatus"))
  }

  /** The CHECK-constraint venue (`of19_check_constraint`): commit a
    * lineitem slice, add a quantity-range constraint (validating the
    * existing data), land a good append, then certify BOTH refusal
    * paths — a batch with negated quantities dies at the commit
    * boundary with the exact violation count and the head unmoved,
    * and a constraint the existing data violates is refused without
    * burning a version. The final aggregate proves the bad batch never
    * became visible. The oracle replays every count and the surviving
    * sum from the fixture slices. */
  def checkConstraintDemo(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val li = graft.sources.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"))
    val root = graft.util.Scratch.dir("graft_check_")
    val base = li.filter(col("l_orderkey") % 7 === 0)
    val good = li.filter(col("l_orderkey") % 7 === 1)
    // a PARTIALLY bad batch: every third line's quantity negated — the
    // rejection must count exactly those rows, not the whole batch
    val bad = li.filter(col("l_orderkey") % 7 === 2)
      .withColumn("l_quantity",
        when(col("l_linenumber") % 3 === 0, -col("l_quantity"))
          .otherwise(col("l_quantity")))
    // post-commit visibility counts from the entry (r15,
    // [[currentRowCount]]): the read-back count jobs re-scanned every
    // committed byte; the metadata count is exact (DV-aware) and the
    // oracle still certifies the values
    val nBase = {
      commit(base, root)
      currentRowCount(spark, root)
    }
    addCheckConstraint(spark, root, "qty_range",
      "l_quantity BETWEEN 1 AND 50")
    val nAfterGood = {
      appendCommit(good, root)
      currentRowCount(spark, root)
    }
    val vBeforeBad = currentVersion(spark, root).get
    val nRejected =
      try { appendCommit(bad, root); -1L }
      catch { case v: ConstraintViolation => v.nViolations }
    val badAppendHeld =
      if (currentVersion(spark, root).get == vBeforeBad) 1L else 0L
    val nRefused =
      try {
        addCheckConstraint(spark, root, "price_low",
          "l_extendedprice < 0"); -1L
      } catch { case v: ConstraintViolation => v.nViolations }
    val sumQty = readCurrent(spark, root)
      .agg(sum(col("l_quantity").cast("decimal(12,2)")))
      .head().getDecimal(0).longValue()
    val nActive =
      checkConstraintsOf(spark, root, currentVersion(spark, root).get).size
    Seq(
      ("s1_base_commit", "committed", nBase),
      ("s2_add_qty_check", "active_constraints", nActive.toLong),
      ("s3_good_append", "committed", nAfterGood),
      ("s4_bad_append", "rejected_rows", nRejected),
      ("s5_bad_append_held", "pointer_unmoved", badAppendHeld),
      ("s6_bad_constraint", "refused_rows", nRefused),
      ("s7_final", "sum_qty", sumQty)
    ).toDF("step", "outcome", "n").orderBy("step")
  }

  /** The [[shallowClone]] venue (`of17_shallow_clone`): clone a
    * stats-carrying orders table by reference, DELETE a key band on
    * the CLONE (file-granular — only stats-overlapping files rewrite
    * under the clone's root; the rest keep riding the source's files
    * cross-root), and certify both sides: the clone shows the delete,
    * the source must be byte-indistinguishable from the fixture. The
    * oracle replays the two sides as a UNION of a plain aggregate and
    * a NOT-BETWEEN aggregate. */
  def cloneDemo(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val orders = graft.sources.Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val base = graft.util.Scratch.dir("graft_clone_")
    val src = s"$base/src"
    val dst = s"$base/clone"
    // footer probe feeds both the delete cut and the commit width
    // (r14; r15: one combined walk)
    val (cut, rows) = Layout.footerCountAndMax(
        spark, s"$sfDir/orders.parquet", Seq("o_orderkey")) match {
      case (n, m) if m("o_orderkey").isDefined => (m("o_orderkey").get / 6, n)
      case _ =>
        val probe = orders.agg(max(col("o_orderkey")), count(lit(1))).head()
        (probe.getLong(0) / 6, probe.getLong(1))
    }
    commitWithStats(
      orders.repartitionByRange(derivedCommitFiles(rows),
          col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"),
      src, Seq("o_orderkey"))
    shallowClone(spark, src, dst)
    deleteWhere(spark, dst, "o_orderkey", lit(1L), lit(cut))
    def side(root: String, label: String) =
      readCurrent(spark, root)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast("decimal(12,2)")).cast("double")
            .as("sum_price"))
        .withColumn("side", lit(label))
    side(src, "source").unionByName(side(dst, "clone"))
      .select("side", "o_orderstatus", "n_rows", "sum_price")
      .orderBy("side", "o_orderstatus")
  }

  /** The MERGE-side schema-evolution venue (`of16_merge_evolution`):
    * a change batch that both REPRICES existing keys and CARRIES A NEW
    * COLUMN lands through [[mergeCommit]] in one commit — the
    * `unionByName(allowMissingColumns)` path records the union schema,
    * kept rows read NULL in the new column, and the next read sees one
    * evolved table. This is the everyday Delta/Iceberg motion (`MERGE
    * ... WHEN MATCHED UPDATE` after an upstream added a field); the
    * commit-side add-column venue is [[schemaEvolutionDemo]] (`of12`),
    * this one certifies the merge path end-to-end against the oracle's
    * CASE/anti-join replay. Same scale shape as any merge: one keyed
    * anti-join over the base, the change batch broadcast-sized. */
  def mergeEvolutionDemo(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val orders = graft.sources.Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val root = graft.util.Scratch.dir("graft_mergevo_")
    commit(orders, root)
    val changes = orders.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_totalprice",
        (col("o_totalprice").cast("decimal(12,2)") + 250).cast("double"))
      .withColumn("o_audit_src", concat(lit("merge-"), col("o_orderkey") % 3))
    mergeCommit(spark, root, changes, "o_orderkey")
    readCurrent(spark, root)
      .groupBy(col("o_audit_src"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(12,2)")).cast("double")
          .as("sum_price"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy(asc_nulls_first("o_audit_src"))
  }

  /** GENERATED-COLUMN commit (the Delta `GENERATED ALWAYS AS` pruning
    * motion): materialize `genName = baseCol div bucket` at write time,
    * lay the files out by range on it, keep per-file stats on the
    * GENERATED column, and record the generation rule as versioned
    * table metadata. [[readCurrentWhereBase]] then serves predicates on
    * the BASE column by translating them through the (monotone) rule —
    * `base ∈ [lo, hi] ⇒ gen ∈ [lo div b, hi div b]` — pruning files
    * with the generated column's stats before any file is opened, and
    * keeping the exact base predicate as the residual. The point at
    * 100 TB: one coarse derived column (day-of-timestamp, key-bucket)
    * gives partition-pruning economics to range queries on a
    * high-cardinality base column whose raw min/max would make every
    * file overlap. `bucket` must be positive and the rule is applied
    * with `div` (floor for the non-negative keys it is meant for). */
  def commitGenerated(df: DataFrame, root: String, baseCol: String,
                      bucket: Long, genName: String,
                      nFiles: Int = 8): Long = {
    import org.apache.spark.sql.functions.{col, expr}
    require(bucket > 0, s"generation bucket must be positive: $bucket")
    // the rule's names reach `expr`, `repartitionByRange` and every
    // reader's `col` unquoted: restrict them to plain identifiers at
    // COMMIT time, so no committed rule names a column its readers
    // would mis-resolve (anything fancier would need backtick-quoting)
    Seq("generated" -> genName, "base" -> baseCol).foreach { case (what, n) =>
      require(n.matches("[A-Za-z_][A-Za-z0-9_]*"),
        s"$what column name must be a plain identifier " +
          s"[A-Za-z_][A-Za-z0-9_]*, got: `$n`")
    }
    val withG = df
      .withColumn(genName, expr(s"$baseCol div $bucket"))
      .repartitionByRange(nFiles, col(genName), col(baseCol))
      .sortWithinPartitions(genName, baseCol)
    // the rule is recorded in the entry the commit puts:
    // a reader of version v must never resolve an older rule (or none)
    commitInternal(withG, root, Seq(genName),
      gen = Some((genName, baseCol, bucket)))
  }

  /** Range read on the BASE column of a [[commitGenerated]] table: the
    * bounds translate through the recorded monotone rule and the
    * GENERATED column's stats prune the file set; the exact base
    * predicate stays as the residual (pushed into the surviving
    * parquet scans). Base-column semantics, generated-column pruning
    * economics. */
  def readCurrentWhereBase(spark: SparkSession, root: String,
                           baseCol: String, lo: Long, hi: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val m = metaOf(spark, root, headOf(spark, root))
    val (gen, base, bucket) = m.gen.getOrElse(
      throw new java.util.NoSuchElementException(
        s"snapshot table $root has no generated-column rule"))
    require(base == baseCol,
      s"generated rule on $root derives from `$base`, not `$baseCol`")
    rangeRead(spark, m, Seq((gen,
        lit(Math.floorDiv(lo, bucket)), lit(Math.floorDiv(hi, bucket)))))
      .filter(col(baseCol) >= lo && col(baseCol) <= hi)
  }

  /** Commit width for a demo venue writing `rows` rows: ~2M rows per
    * file, clamped to [8, 32]. The table's target-file-size policy as
    * code — a FIXED width is the sf10-soak defect class (10× the rows
    * through the same k writer tasks); deriving it from the observed
    * row count keeps write parallelism tracking data volume, and finer
    * files also prune finer on the read side. */
  private[graft] def derivedCommitFiles(rows: Long): Int =
    math.min(32L, math.max(8L, rows / 2000000L)).toInt

  /** The oracle-certified [[commitGenerated]] venue
    * (`of21_generated_column`): orders committed with a derived
    * thousand-key bucket column, then a BASE-key range query served
    * through the generated-column prune — the result must equal the
    * plain fixture filter (the generated column rides along,
    * recomputed by the oracle), and SnapshotSpec pins that the prune
    * opened a strict subset of the files. */
  def generatedDemo(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val orders = graft.sources.Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val root = graft.util.Scratch.dir("graft_gencol_")
    // file count tracks data volume: a FIXED 8-file layout made the
    // write venue the 18.7× line of the sf10 soak — 10× the rows
    // through the same 8 writers (see [[derivedCommitFiles]]).
    // r14: both probes from footer metadata (exact; no sizing jobs);
    // r15: count+max in ONE footer walk
    val (rows, maxes) = Layout.footerCountAndMax(
      spark, s"$sfDir/orders.parquet", Seq("o_orderkey"))
    val nF = derivedCommitFiles(rows)
    commitGenerated(orders, root, "o_orderkey", 1000L, "ok_bucket",
      nFiles = nF)
    val mx = maxes("o_orderkey")
      .getOrElse(orders.agg(max("o_orderkey")).head().getLong(0))
    readCurrentWhereBase(spark, root, "o_orderkey", mx / 4, mx / 2)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(12,2)")).cast("double")
          .as("sum_price"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"),
        countDistinct(col("ok_bucket")).as("n_buckets"))
      .orderBy("o_orderstatus")
  }

  /** The oracle-certified [[commitClustered]] venue
    * (`of13_zorder_commit`): lineitem laid on the Morton curve of
    * (l_partkey, l_suppkey) with min/max stats on both, then a 2-D box
    * read through [[readCurrentPrunedBox]] — the dimensions a
    * single-column sort cannot serve together. File skipping on the
    * intersection is spec-pinned (SnapshotSpec: the box prune opens
    * strictly fewer files than either 1-D prune on a linear layout);
    * this query certifies VALUES — the box read must return exactly
    * the fixture's rows inside the box, which DuckDB replays as a
    * plain double-range filter. */
  def clusteredDemo(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val li = graft.sources.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"))
    // footer probe feeds the box bounds, the commit width AND the
    // z-order interleave width (r14: zorderCluster's own bits
    // derivation would re-aggregate the maxima — one more full pass;
    // the footer maxima are the same exact values). r15: both maxima
    // AND the count from ONE footer walk (was 5 opens per file).
    val liDir = s"$sfDir/lineitem.parquet"
    val (pMax, sMax, rows) = Layout.footerCountAndMax(
        spark, liDir, Seq("l_partkey", "l_suppkey")) match {
      case (n, m) if m("l_partkey").isDefined && m("l_suppkey").isDefined =>
        (m("l_partkey").get, m("l_suppkey").get, n)
      case _ =>
        val m = li.agg(max(col("l_partkey")), max(col("l_suppkey")),
          count(lit(1))).head()
        (m.getLong(0), m.getLong(1), m.getLong(2))
    }
    val zbits = math.min(31, math.max(1,
      64 - java.lang.Long.numberOfLeadingZeros(math.max(pMax, sMax)))).toInt
    val root = graft.util.Scratch.dir("graft_zorder_")
    commitClustered(li, root, "l_partkey", "l_suppkey",
      derivedCommitFiles(rows), bits = zbits)
    readCurrentPrunedBox(spark, root,
        "l_partkey", lit(pMax / 4), lit(pMax / 2),
        "l_suppkey", lit(sMax / 4), lit(sMax / 2))
      .groupBy((col("l_suppkey") % 5).as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(12,2)")).cast("double")
          .as("sum_qty"),
        min(col("l_partkey")).as("min_part"),
        max(col("l_partkey")).as("max_part"))
      .orderBy("bucket")
  }

  /** The oracle-certified [[vacuum]] venue (`of14_vacuum`): commit
    * lineitem range-laid-out (v1), carve a key range out with
    * [[deleteWhere]] (v2 — a version still REFERENCING v1's
    * carried files), collapse the chain with [[compact]] (v3,
    * self-contained), then vacuum with the default one-version
    * retention — v1 and v2 are now unreferenced and their attempt
    * directories are reclaimed. The reclamation itself
    * (directories gone, live version untouched, referenced ancestors
    * surviving while the chain exists) is spec-pinned in SnapshotSpec;
    * this query certifies VALUES — the post-GC table must still read
    * exactly the delete's survivors, which DuckDB replays as a NOT
    * BETWEEN filter. */
  def vacuumDemo(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val li = graft.sources.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
    // footer probe feeds both the delete bound and the commit width
    // (r14: exact metadata, no probe job; r15: one combined walk)
    val (hi, rows) = Layout.footerCountAndMax(
        spark, s"$sfDir/lineitem.parquet", Seq("l_orderkey")) match {
      case (n, m) if m("l_orderkey").isDefined =>
        (m("l_orderkey").get / 5, n)
      case _ =>
        val probe = li.agg(floor(max(col("l_orderkey")) / 5),
          count(lit(1))).head()
        (probe.getLong(0), probe.getLong(1))
    }
    val root = graft.util.Scratch.dir("graft_vacuum_")
    commitWithStats(
      li.repartitionByRange(derivedCommitFiles(rows), col("l_orderkey"))
        .sortWithinPartitions("l_orderkey"),
      root, Seq("l_orderkey"))
    deleteWhere(spark, root, "l_orderkey", lit(1L), lit(hi))
    compact(spark, root) // width from the referenced bytes
    vacuum(spark, root)
    readCurrent(spark, root)
      .groupBy((col("l_orderkey") % 9).as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_extendedprice").cast("decimal(14,2)")).cast("double")
          .as("sum_price"),
        min(col("l_orderkey")).as("min_key"),
        max(col("l_orderkey")).as("max_key"))
      .orderBy("bucket")
  }

  /** The oracle-certified [[readAsOf]] venue (`of15_time_travel`):
    * commit orders (v1), damage it with a key-range delete (v2), then
    * read the table AS OF an instant strictly between the two commit
    * timestamps and AS OF the second commit's own timestamp — Delta's
    * `TIMESTAMP AS OF` on both sides of a change. The probe instant is
    * the midpoint of the two recorded commit times, deterministic
    * because entry times are strictly increasing (enforced at the put).
    * DuckDB replays the 'before' slice as the plain
    * fixture and the 'current' slice as the delete's survivors. */
  def timeTravelDemo(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val o = graft.sources.Tables.table(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    // footer probe feeds both the delete bound and the commit width
    // (r14: exact metadata, no probe job; r15: one combined walk)
    val (hi, rows) = Layout.footerCountAndMax(
        spark, s"$sfDir/orders.parquet", Seq("o_orderkey")) match {
      case (n, m) if m("o_orderkey").isDefined =>
        (m("o_orderkey").get / 3, n)
      case _ =>
        val probe = o.agg(floor(max(col("o_orderkey")) / 3),
          count(lit(1))).head()
        (probe.getLong(0), probe.getLong(1))
    }
    val root = graft.util.Scratch.dir("graft_asof_")
    commitWithStats(
      o.repartitionByRange(derivedCommitFiles(rows), col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"),
      root, Seq("o_orderkey"))
    deleteWhere(spark, root, "o_orderkey", lit(1L), lit(hi))
    val h = commitHistory(spark, root).toMap
    def slice(tsMillis: Long, tag: String): DataFrame =
      readAsOf(spark, root, tsMillis)
        .groupBy(lit(tag).as("snap"), (col("o_orderkey") % 11).as("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast("decimal(14,2)")).cast("double")
            .as("sum_price"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
    slice((h(1L) + h(2L)) / 2, "before")
      .unionAll(slice(h(2L), "current"))
      .orderBy("snap", "bucket")
  }

  /** How long [[vacuum]] spares an attempt directory no entry names: an
    * attempt in flight has written data but not yet put its entry, and
    * nothing but its age tells it from a crashed one (Delta's
    * `deletedFileRetentionDuration` default, one week). A commit must
    * put its entry within this time of its last write into the
    * attempt. */
  private[graft] val AttemptRetentionMs: Long = 7L * 24 * 60 * 60 * 1000

  /** Orphan GC, one rule: keep what a LIVE version names, delete the
    * rest once it is provably nobody's. The live versions are the
    * `retain` newest committed ones (the time-travel window; the head
    * always among them). Every attempt directory a live entry names
    * survives — its own data, a carried file's, a bloom payload's. Each
    * version it collects shrinks to its header `{time, dir}`, which
    * outlives the data ([[commitHistory]], [[readAsOf]]); a collected
    * version's [[readVersion]] fails fast. Any other attempt directory
    * a collected entry names is deleted at once. One that no entry
    * names at all is an attempt in flight or a crashed one: it is
    * deleted only once older than [[AttemptRetentionMs]], as are temp
    * files a crashed put or hint write left in `_log`. The head and the
    * hint are never touched. Like any GC, vacuum assumes no reader is
    * still walking an unreferenced snapshot's files.
    *
    * Cost: O(versions since the last vacuum). Collected versions form a
    * prefix 1..H of the log, so the walk goes from the head down and
    * stops at the first header; what the headers below it named went
    * with the vacuum that wrote them. The doomed directories are
    * deleted BEFORE any entry shrinks, and entries shrink oldest first:
    * a vacuum killed part-way leaves full entries above a header
    * prefix, which the next vacuum reads and reclaims again. Returns
    * the deleted names, relative to `root`. */
  def vacuum(spark: SparkSession, root: String, retain: Int = 1): Seq[String] = {
    require(retain >= 1, "retain must keep at least the live version")
    val cur = currentVersion(spark, root).getOrElse(
      throw new java.util.NoSuchElementException(
        s"snapshot table $root has no committed version; nothing to vacuum"))
    val fs = fsOf(spark, new org.apache.hadoop.fs.Path(root))
    // the attempt directories an entry names: its own, its files', its
    // bloom payloads'
    def names(j: org.json4s.JValue): Seq[String] = {
      import org.json4s._
      val files = j \ "files" match { case JArray(fs) => fs; case _ => Nil }
      files.flatMap(f => Seq(f \ "path", f \ "bloom"))
        .collect { case JString(p) => attemptOf(p) } ++ headerOf(j)._2
    }
    val (kept, collected) = Iterator.iterate(cur)(_ - 1).takeWhile(_ >= 1)
      .map(v => v -> entryJson(spark, root, v).get)
      .takeWhile { case (_, j) => !isHeaderOnly(j) }.toList
      .partition(_._1 > cur - retain)
    val live = kept.flatMap(e => names(e._2)).toSet
    val doomed = collected.flatMap(e => names(e._2)).toSet
    val now = System.currentTimeMillis()
    def stale(st: org.apache.hadoop.fs.FileStatus) =
      now - st.getModificationTime > AttemptRetentionMs
    def children(rel: String) =
      try fs.listStatus(new org.apache.hadoop.fs.Path(root, rel)).toSeq
      catch { case _: java.io.FileNotFoundException => Nil }
    val dead = children(DataDir).filter { st =>
      val d = canonFile(fs.makeQualified(st.getPath))
      !live(d) && (doomed(d) || stale(st))
    }.map(st => s"$DataDir/${st.getPath.getName}") ++
      children(LogDir).filter(st =>
        !st.getPath.getName.matches("v=\\d+\\.json") && stale(st))
        .map(st => s"$LogDir/${st.getPath.getName}")
    dead.foreach(n => fs.delete(new org.apache.hadoop.fs.Path(root, n), true))
    collected.reverse.foreach { case (v, j) =>
      val (time, dir) = headerOf(j)
      replaceFile(spark, root, recordPath(root, v),
        org.json4s.jackson.JsonMethods.compact(
          org.json4s.JObject(headerFields(time, dir))))
    }
    dead
  }

  /** Write `df` into a fresh attempt directory and put no entry — the
    * "crashed after data write, before the put" state, exposed so the
    * spec can construct it deterministically. Returns the directory. */
  private[graft] def writeAttempt(df: DataFrame, root: String): String = {
    val dir = pathOf(df.sparkSession, root, s"$DataDir/${java.util.UUID.randomUUID()}")
    df.write.mode("overwrite").parquet(dir)
    dir
  }
}
