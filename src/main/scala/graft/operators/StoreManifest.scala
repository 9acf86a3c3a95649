package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.BridgeFiles
import org.apache.spark.sql.types.{DataType, IntegerType, LongType,
  StructField, StructType}

/** The graph store's committed file list, `<store>/manifest.json` — the
  * role of the config file the reference's Vamana save writes next to
  * its graph and data blobs (index/vamana/index.h:788-802): a reader
  * opens what it names and never lists a directory or infers a format.
  *
  * For each cluster-partitioned dir present (`data`, `graph`, `codes`,
  * `bincodes`) it holds the schema `spark.read.parquet(dir)` infers
  * (data fields, then the `cluster_id` partition field) and, per
  * `cluster_id`, that shard's part files (name, length, modification
  * time). Writers list the dirs they wrote and commit it as the last
  * step of their `StoreMarker` bracket, under a temp name renamed into
  * place. */
private[graft] object StoreManifest {

  val FileName = "manifest.json"

  /** The cluster-partitioned dirs a graph store may hold. */
  val BigDirs = Seq("data", "graph", "codes", "bincodes")

  final case class Part(name: String, length: Long, mtime: Long)

  /** One dir: its read schema and each shard's part files (shards with
    * no files are absent). */
  final case class Dir(schema: StructType, shards: Map[Long, Seq[Part]])

  type Manifest = Map[String, Dir]

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The committed manifest of `store`, if it has one. */
  def read(spark: SparkSession, store: String): Option[Manifest] = {
    val p = new Path(store, FileName)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val json =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      import org.json4s._
      import org.json4s.jackson.JsonMethods.{compact, parse, render}
      val JObject(dirs) = parse(json) \ "dirs": @unchecked
      Some(dirs.map { case (sub, node) =>
        val JObject(shards) = node \ "shards": @unchecked
        sub -> Dir(
          DataType.fromJson(compact(render(node \ "schema")))
            .asInstanceOf[StructType],
          shards.map { case (cid, JArray(parts)) =>
            cid.toLong -> parts.map {
              case JArray(List(JString(n), JInt(len), JInt(t))) =>
                Part(n, len.toLong, t.toLong)
              case other => sys.error(
                s"malformed part entry in $p: ${compact(render(other))}")
            }
          case (cid, _) => sys.error(s"malformed shard $cid in $p")
          }.toMap)
      }.toMap)
    }
  }

  /** Write `m` as `store`'s manifest: to a temp name, then renamed into
    * place (the rename result checked — HDFS returns false, it does not
    * throw). */
  def commit(spark: SparkSession, store: String, m: Manifest): Unit = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.{compact, parse, render}
    val json = compact(render(JObject("version" -> JInt(1),
      "dirs" -> JObject(m.toList.sortBy(_._1).map { case (sub, d) =>
        sub -> JObject(
          "schema" -> parse(d.schema.json),
          "shards" -> JObject(d.shards.toList.sortBy(_._1).map {
            case (cid, parts) => cid.toString -> JArray(parts.toList.map(
              p => JArray(List(JString(p.name), JInt(p.length),
                JInt(p.mtime)))))
          }))
      }))))
    val dst = new Path(store, FileName)
    val tmp = new Path(store, FileName + ".tmp")
    val fs = fsOf(spark, dst)
    val out = fs.create(tmp, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(dst, false)
    require(fs.rename(tmp, dst), s"failed to rename $tmp into place")
  }

  /** List the `subs` dirs of `store` that exist: every `cluster_id=`
    * dir, or, when `touched` is given and `prior` holds the dir, only
    * the touched shards' dirs, with the other shards carried over from
    * `prior`. A shard left with no files drops out. */
  def list(spark: SparkSession, store: String, subs: Seq[String],
           prior: Manifest = Map.empty,
           touched: Option[Seq[Long]] = None): Manifest = {
    val root = new Path(store)
    val fs = fsOf(spark, root)
    def partsOf(dir: Path): Seq[Part] =
      fs.listStatus(dir).toSeq
        .filter(f => f.isFile && DriverParquet.isDataFile(f.getPath.getName))
        .map(f => Part(f.getPath.getName, f.getLen, f.getModificationTime))
        .sortBy(_.name)
    subs.flatMap { sub =>
      val dir = new Path(root, sub)
      if (!fs.exists(dir)) None
      else {
        val listed: Map[Long, Seq[Part]] = (touched, prior.get(sub)) match {
          case (Some(t), Some(old)) =>
            // a touched shard may be gone (emptied by deletes)
            old.shards -- t ++ t.map { c =>
              val cdir = new Path(dir, s"cluster_id=$c")
              c -> (if (fs.exists(cdir)) partsOf(cdir) else Nil)
            }
          case _ =>
            fs.listStatus(dir).toSeq
              .filter(d => d.isDirectory &&
                d.getPath.getName.startsWith("cluster_id="))
              .map(d => d.getPath.getName.stripPrefix("cluster_id=").toLong ->
                partsOf(d.getPath)).toMap
        }
        val shards = listed.filter(_._2.nonEmpty)
        Some(sub -> Dir(schemaOf(spark, dir, shards,
          prior.get(sub).map(_.schema)), shards))
      }
    }.toMap
  }

  /** What `spark.read.parquet(dir)` infers for these shards: the data
    * fields from the footer of the first file in path order (the one
    * file its inference reads), then `cluster_id` typed as its partition
    * inference types it — int when every value fits, else long. An
    * emptied dir keeps its `prior` schema. */
  private def schemaOf(spark: SparkSession, dir: Path,
                       shards: Map[Long, Seq[Part]],
                       prior: Option[StructType]): StructType = {
    val files = shards.toSeq.flatMap { case (cid, parts) =>
      parts.map(p => s"cluster_id=$cid/${p.name}") }
    if (files.isEmpty)
      prior.getOrElse(sys.error(s"no parquet files under $dir"))
    else {
      val fileFields = BridgeFiles.parquetFileSchema(spark,
        new Path(dir, files.min))
      val cidType =
        if (shards.keys.forall(c => c.isValidInt)) IntegerType else LongType
      StructType(fileFields.filterNot(_.name == "cluster_id") :+
        StructField("cluster_id", cidType, nullable = true))
    }
  }

  /** A frame over `sub`'s files as `d` records them — every shard, or
    * only `shards` — with `d`'s schema: no listing, no inference. */
  def frame(spark: SparkSession, store: String, sub: String, d: Dir,
            shards: Option[Iterable[Long]] = None): DataFrame = {
    val dir = fsOf(spark, new Path(store)).makeQualified(
      new Path(store, sub))
    val intCid = d.schema("cluster_id").dataType == IntegerType
    val picked = shards.fold(d.shards.keys.toSeq)(_.toSeq.distinct)
      .sorted.flatMap(c => d.shards.get(c).map(c -> _))
    BridgeFiles.partitionedParquet(spark, d.schema, "cluster_id",
      picked.map { case (cid, parts) =>
        val cdir = new Path(dir, s"cluster_id=$cid")
        (cdir, if (intCid) cid.toInt else cid, parts.map(p =>
          new FileStatus(p.length, false, 1, 128L << 20, p.mtime,
            new Path(cdir, p.name))).toArray)
      })
  }
}
