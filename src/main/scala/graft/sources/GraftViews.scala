package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.StructType

import graft.iceberg.{HadoopConfs, IcebergTypes}

/** Persisted SQL VIEW documents — the Iceberg view-spec shape (view
  * metadata JSON with a versions list whose representations carry the
  * SQL text and dialect, plus an Iceberg-typed schema), stored as
  * `view-v{N}.metadata.json` under the view's directory exactly like
  * table metadata versions. A view is NOTHING but its document: engines
  * coordinate through the directory, reads re-plan the stored SQL
  * against the current table state (late binding — the Iceberg view
  * contract), and version files supersede each other linearly. */
object GraftViews {

  final case class ViewDoc(
      uuid: String,
      location: String,
      sql: String,
      currentCatalog: String,
      currentNamespace: Seq[String],
      schema: StructType,
      queryColumnNames: Seq[String],
      columnAliases: Seq[String],
      columnComments: Seq[String],
      properties: Map[String, String],
      timestampMs: Long,
      versionId: Int)

  private val mapper = new ObjectMapper()

  private val ViewVersionRe = """view-v(\d+)\.metadata\.json""".r

  def docPath(dir: String, version: Int): String =
    s"$dir/view-v$version.metadata.json"

  def currentVersion(dir: String): Int = {
    val fs = HadoopConfs.fileSystemFor(dir)
    if (!fs.exists(new Path(dir))) return 0
    fs.listStatus(new Path(dir)).map(_.getPath.getName).collect {
      case ViewVersionRe(n) => n.toInt
    }.foldLeft(0)(math.max)
  }

  def exists(dir: String): Boolean = currentVersion(dir) > 0

  def write(dir: String, doc: ViewDoc): Unit = {
    val root = mapper.createObjectNode()
    root.put("view-uuid", doc.uuid)
    root.put("format-version", 1)
    root.put("location", doc.location)
    root.put("current-version-id", doc.versionId)
    val schemas = root.putArray("schemas")
    val sn = mapper.createObjectNode()
    sn.put("type", "struct")
    sn.put("schema-id", 0)
    val fields = sn.putArray("fields")
    val nextId = new java.util.concurrent.atomic.AtomicInteger(doc.schema.fields.length)
    doc.schema.fields.zipWithIndex.foreach { case (f, i) =>
      val fn = mapper.createObjectNode()
      fn.put("id", i + 1)
      fn.put("name", f.name)
      fn.put("required", false)
      val t = IcebergTypes.fromSparkType(f.dataType, () => nextId.incrementAndGet())
      if (t.startsWith("{")) fn.set[com.fasterxml.jackson.databind.JsonNode](
        "type", mapper.readTree(t))
      else fn.put("type", t)
      fields.add(fn)
    }
    schemas.add(sn)
    val versions = root.putArray("versions")
    val vn = mapper.createObjectNode()
    vn.put("version-id", doc.versionId)
    vn.put("timestamp-ms", doc.timestampMs)
    vn.put("schema-id", 0)
    vn.put("default-catalog", doc.currentCatalog)
    val ns = vn.putArray("default-namespace")
    doc.currentNamespace.foreach(ns.add)
    val reps = vn.putArray("representations")
    val rep = mapper.createObjectNode()
    rep.put("type", "sql")
    rep.put("sql", doc.sql)
    rep.put("dialect", "spark")
    reps.add(rep)
    versions.add(vn)
    val props = root.putObject("properties")
    doc.properties.foreach { case (k, v) => props.put(k, v) }
    // the Spark view surface beyond the Iceberg spec (query column
    // names, aliases, comments) rides in its own section
    val sp = root.putObject("spark")
    def arr(name: String, vs: Seq[String]): Unit = {
      val a = sp.putArray(name); vs.foreach(a.add)
    }
    arr("query-column-names", doc.queryColumnNames)
    arr("column-aliases", doc.columnAliases)
    arr("column-comments", doc.columnComments)
    val out = HadoopConfs.fileSystemFor(dir)
      .create(new Path(docPath(dir, doc.versionId)), true)
    try out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    finally out.close()
  }

  def parse(dir: String): ViewDoc = {
    val v = currentVersion(dir)
    require(v > 0, s"no view document under $dir")
    val in = HadoopConfs.open(docPath(dir, v))
    val root = try mapper.readTree(in) finally in.close()
    val schemaNode = root.get("schemas").elements().asScala.next()
    val fields = schemaNode.get("fields").elements().asScala.toSeq
    val schema = StructType(fields.map { f =>
      val t = f.get("type")
      val ts = if (t.isTextual) t.asText else t.toString
      org.apache.spark.sql.types.StructField(f.get("name").asText,
        IcebergTypes.fromString(ts).sparkType, nullable = true)
    })
    val version = root.get("versions").elements().asScala.next()
    val sql = version.get("representations").elements().asScala.next()
      .get("sql").asText
    val sp = root.get("spark")
    def arr(name: String): Seq[String] =
      Option(sp).flatMap(s => Option(s.get(name))).toSeq
        .flatMap(_.elements().asScala.map(_.asText))
    ViewDoc(
      uuid = root.get("view-uuid").asText,
      location = root.get("location").asText,
      sql = sql,
      currentCatalog = version.get("default-catalog").asText,
      currentNamespace = version.get("default-namespace")
        .elements().asScala.map(_.asText).toSeq,
      schema = schema,
      queryColumnNames = arr("query-column-names"),
      columnAliases = arr("column-aliases"),
      columnComments = arr("column-comments"),
      properties = Option(root.get("properties")).map(_.properties().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty),
      timestampMs = version.get("timestamp-ms").asLong,
      versionId = v)
  }
}
