package graft.sources

import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse => parseJson,
  render => renderJson}

import LakeWriter.{ColMapping, ColStat, FileStats, InlineDv}

/** One snapshot version's manifest, `<table>/_manifests/v{N}.json`,
  * and the ONLY code that knows its wire format
  * (docs/snapshot_format.md). The body is a flat JSON object whose
  * string values are URL-encoded — structured fields are
  * URL-encoded compact-JSON blobs — so no value ever carries a
  * quote, bracket or comma, and the byte layout is stable: fields in
  * a fixed order, optional fields omitted when empty, blob keys
  * sorted. `render(parse(body)) == body` for every body this writer
  * produced.
  *
  * Per-file maps (`dvs`, `stats`, `lengths`, `blooms`) are keyed by file
  * BASENAME (table-unique, see `LakeWriter.baseName`); `stats` and
  * the stats-carried column names use PHYSICAL column names, `colmap`
  * translates. */
private[graft] final case class Manifest(
    version: Long,
    mode: String,
    ts: Option[Long],
    txns: Map[String, Long],
    schema: StructType,
    partCols: Seq[String],
    mergeKeys: Seq[String],
    dvs: Map[String, InlineDv],
    checks: Map[String, String],
    colmap: ColMapping,
    stats: Map[String, FileStats],
    lengths: Map[String, Long],
    bloomCfg: Map[String, Long],
    blooms: Map[String, Map[String, String]],
    files: Seq[String]) {
  import Manifest._

  def render: String = {
    def blob(name: String, j: JValue): String =
      s""""$name":"${enc(compact(renderJson(j)))}","""
    def list(name: String, xs: Seq[String]): String =
      if (xs.isEmpty) "" else s""""$name":"${xs.map(enc).mkString(",")}","""
    // stats follow the file list's order; a column serializes
    // [lo,hi] when its null count is unknown, [lo|null,hi|null,n]
    // when known, and "" (never a column name) carries the row count
    val statsJ = files.map(LakeWriter.baseName).flatMap(bn =>
      stats.get(bn).filter(s => s.rows.nonEmpty || s.cols.nonEmpty).map {
        fst =>
          val cols = fst.cols.toSeq
            .filter { case (_, cs) =>
              cs.nulls.isDefined || (cs.lo.isDefined && cs.hi.isDefined) }
            .sortBy(_._1).map { case (c, cs) =>
              c -> (cs.nulls match {
                case Some(n) => JArray(List(opt(cs.lo), opt(cs.hi),
                  JString(n.toString)))
                case None => JArray(List(JString(cs.lo.get),
                  JString(cs.hi.get)))
              })
            }
          bn -> (JObject(fst.rows.toList.map(r =>
            "" -> (JString(r.toString): JValue)) ++ cols): JValue)
      })
    val sb = new StringBuilder(s"""{"version":$version,"mode":"$mode",""")
    ts.foreach(t => sb ++= s""""ts":$t,""")
    if (txns.nonEmpty) sb ++= blob("txns", obj(txns)(JInt(_)))
    sb ++= s""""schema":"${enc(schema.json)}","""
    sb ++= list("partcols", partCols) ++ list("mergekeys", mergeKeys)
    if (dvs.nonEmpty) sb ++= blob("dvs", obj(dvs)(d => JObject(
      "z" -> JString(d.z85), "c" -> JInt(d.cardinality),
      "s" -> JInt(d.sizeInBytes))))
    if (checks.nonEmpty) sb ++= blob("checks", obj(checks)(JString(_)))
    if (!colmap.isIdentity || colmap.dropped.nonEmpty)
      sb ++= blob("colmap", JObject(
        "m" -> obj(colmap.map)(JString(_)),
        "d" -> JArray(colmap.dropped.sorted.map(JString(_)).toList)))
    if (statsJ.nonEmpty) sb ++= blob("stats", JObject(statsJ.toList))
    if (lengths.nonEmpty) sb ++= blob("lengths", obj(lengths)(JInt(_)))
    if (bloomCfg.nonEmpty) sb ++= blob("blooms", JObject(
      "cfg" -> obj(bloomCfg)(JInt(_)),
      "files" -> obj(blooms)(cs => obj(cs)(JString(_)))))
    files.map(f => "\"" + enc(f) + "\"")
      .addString(sb, "\"files\":[", ",", "]}").toString
  }
}

private[graft] object Manifest {
  private def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String = java.net.URLDecoder.decode(s, "UTF-8")
  private def opt(s: Option[String]): JValue =
    s.map(JString(_)).getOrElse(JNull)
  private def obj[V](m: Map[String, V])(f: V => JValue): JValue =
    JObject(m.toSeq.sortBy(_._1).map { case (k, v) => k -> f(v) }.toList)
  private def text(j: JValue): Option[String] = j match {
    case JString(s) => Some(s)
    case _ => None
  }
  private def long(j: JValue): Option[Long] = j match {
    case JInt(n) => Some(n.toLong)
    case JLong(n) => Some(n)
    case _ => None
  }

  def parse(body: String): Manifest = {
    val fields = parseJson(body) match {
      case JObject(fs) => fs.toMap
      case _ => sys.error("malformed manifest: not a JSON object")
    }
    def str(k: String): Option[String] = fields.get(k).flatMap(text)
    def blob(k: String): List[JField] = str(k).map(s => parseJson(dec(s)))
      .collect { case JObject(fs) => fs }.getOrElse(Nil)
    def list(k: String): Seq[String] =
      str(k).filter(_.nonEmpty).map(_.split(",").toSeq.map(dec))
        .getOrElse(Nil)
    def strMap(fs: List[JField]): Map[String, String] =
      fs.collect { case (k, JString(v)) => k -> v }.toMap
    val version = fields.get("version").flatMap(long)
      .getOrElse(sys.error("malformed manifest: no version"))
    val schema = DataType.fromJson(dec(str("schema").getOrElse(
      sys.error(s"malformed manifest v$version: no schema"))))
      .asInstanceOf[StructType]
    val files = fields.get("files") match {
      case Some(JArray(fs)) => fs.collect { case JString(f) => dec(f) }
      case _ => sys.error(s"malformed manifest v$version: no files")
    }
    val dvs = blob("dvs").map { case (bn, j) =>
      val z = j \ "z" match {
        case JString(s) => s
        case _ => sys.error(s"manifest v$version: dv of $bn has no bitmap")
      }
      bn -> InlineDv(z, long(j \ "c").getOrElse(0L),
        long(j \ "s").getOrElse(0L).toInt)
    }.toMap
    val colmapJ = blob("colmap")
    val colmap = ColMapping(
      colmapJ.collectFirst { case ("m", JObject(es)) => strMap(es) }
        .getOrElse(Map.empty),
      colmapJ.collectFirst { case ("d", JArray(es)) =>
        es.collect { case JString(s) => s } }.getOrElse(Nil))
    val stats = blob("stats").map { case (bn, j) =>
      bn -> (j match {
        case JObject(cs) => FileStats(
          cs.collectFirst { case ("", JString(n)) => n.toLong },
          cs.collect {
            case (c, JArray(List(JString(lo), JString(hi)))) if c.nonEmpty =>
              c -> ColStat(Some(lo), Some(hi), None)
            case (c, JArray(List(lo, hi, JString(n)))) if c.nonEmpty =>
              c -> ColStat(text(lo), text(hi), Some(n.toLong))
          }.toMap)
        case _ => FileStats(None, Map.empty)
      })
    }.toMap
    val bloomsJ = blob("blooms")
    Manifest(
      version = version,
      mode = str("mode").getOrElse("overwrite"),
      ts = fields.get("ts").flatMap(long),
      txns = blob("txns").flatMap { case (a, v) => long(v).map(a -> _) }.toMap,
      schema = schema,
      partCols = list("partcols"),
      mergeKeys = list("mergekeys"),
      dvs = dvs,
      checks = strMap(blob("checks")),
      colmap = colmap,
      stats = stats,
      lengths = blob("lengths").flatMap { case (bn, n) =>
        long(n).map(bn -> _) }.toMap,
      bloomCfg = bloomsJ.collectFirst { case ("cfg", JObject(cs)) =>
        cs.flatMap { case (c, n) => long(n).map(c -> _) }.toMap
      }.getOrElse(Map.empty),
      blooms = bloomsJ.collectFirst { case ("files", JObject(fs)) =>
        fs.map { case (bn, cs) => bn -> (cs match {
          case JObject(es) => strMap(es)
          case _ => Map.empty[String, String]
        }) }.toMap
      }.getOrElse(Map.empty),
      files = files)
  }
}
