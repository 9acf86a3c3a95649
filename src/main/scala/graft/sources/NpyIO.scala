package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** NumPy `.npy` source/sink — the reference's Python surface reads vector
  * datasets straight from npy files (`bindings/python/src/svs/common.py:62`
  * `read_npy` → `np.load`) and its docs feed `np.save` output to the
  * loaders, so a complete ingest surface needs the format alongside
  * vecs/svs/raw-binary.
  *
  * Format (public NEP-1 spec): magic `\x93NUMPY`, one version byte pair,
  * a little-endian header length (u16 for v1.0, u32 for v2.0/3.0), then an
  * ASCII dict `{'descr': '<f4', 'fortran_order': False, 'shape': (n, d)}`
  * padded with spaces to a 64-byte-aligned data offset and terminated by
  * `\n`, followed by the raw array bytes.
  *
  * Spark mapping mirrors [[VecsIO]]: a glob/dir of part files reads as one
  * dataset with dense (path, row)-ordered ids; headers are parsed
  * driver-side (bounded bytes per file, no content pull); payload decode is
  * distributed over the `binaryFile` source. [[write]] emits one
  * independently loadable `.npy` per partition — `np.load` opens each shard
  * directly, and [[read]] reassembles the whole dataset.
  *
  * Supported dtypes are the reference's dataset element types
  * (`include/svs/lib/datatype.h:53-66`): f64/f32/f16 plus the integer
  * widths; i1/u1 additionally ingest BYTE-RESIDENT via [[readBytes]] with
  * the [[graft.functions.ByteVecs]] signedness mark, matching the bvecs
  * posture. Big-endian descrs are rejected loudly (numpy emits
  * little-endian on every mainstream platform).
  */
object NpyIO {

  private val Magic: Array[Byte] =
    Array(0x93.toByte, 'N'.toByte, 'U'.toByte, 'M'.toByte, 'P'.toByte,
      'Y'.toByte)

  /** Parsed npy header: normalized dtype descr, storage order, logical
    * shape (1-D arrays read as `(n, 1)`), and the byte offset of the
    * payload. */
  case class Header(descr: String, fortran: Boolean, rows: Long, cols: Int,
                    dataOffset: Long) {
    def elBytes: Int = NpyIO.elBytes(descr)
    def payloadBytes: Long = rows * cols.toLong * elBytes
  }

  /** Element width for a normalized descr. */
  def elBytes(descr: String): Int = descr.last.toString.toInt

  private val SupportedDescrs =
    Set("i1", "u1", "i2", "u2", "i4", "u4", "i8", "f2", "f4", "f8")

  /** Normalize `'<f4'` / `'|u1'` / `'f4'` → `"f4"`; reject big-endian and
    * unsupported kinds. */
  def normalizeDescr(raw: String): String = {
    require(!raw.startsWith(">"),
      s"big-endian npy descr '$raw' not supported (numpy writes " +
        "little-endian on all mainstream platforms)")
    val d = raw.stripPrefix("<").stripPrefix("|").stripPrefix("=")
    require(SupportedDescrs.contains(d), s"unsupported npy descr '$raw'")
    d
  }

  /** Parse a header from the first `bytes` of a file (must cover the full
    * dict — [[readHeaderAt]] sizes its probe from the declared dict
    * length, so any legal header fits). */
  def parseHeader(bytes: Array[Byte], path: String = "<bytes>"): Header = {
    require(bytes.length >= 10, s"$path: truncated npy (${bytes.length} B)")
    require(bytes.take(6).sameElements(Magic), s"$path: bad npy magic")
    val major = bytes(6) & 0xff
    require(major >= 1 && major <= 3, s"$path: npy version $major")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    // v2/v3 header length is u32 — mask against sign-wrap (same hazard as
    // readHeaderAt) so a corrupt length fails the bound check loudly
    // instead of slicing with a negative index.
    val (hlen, hoff) =
      if (major == 1) ((bb.getShort(8) & 0xffff).toLong, 10)
      else (bb.getInt(8) & 0xffffffffL, 12)
    val dataOffset = hoff.toLong + hlen
    require(bytes.length >= dataOffset,
      s"$path: header probe too small ($hlen B dict)")
    val dict =
      new String(bytes, hoff, hlen.toInt, StandardCharsets.ISO_8859_1)
    def field(re: scala.util.matching.Regex, what: String): String =
      re.findFirstMatchIn(dict)
        .getOrElse(sys.error(s"$path: npy header missing $what: $dict"))
        .group(1)
    val descr = normalizeDescr(
      field("'descr'\\s*:\\s*'([^']+)'".r, "descr"))
    val fortran =
      field("'fortran_order'\\s*:\\s*(True|False)".r, "fortran_order") ==
        "True"
    val shapeStr = field("'shape'\\s*:\\s*\\(([^)]*)\\)".r, "shape")
    val dims = shapeStr.split(",").map(_.trim).filter(_.nonEmpty)
      .map(_.toLong)
    val (rows, cols) = dims match {
      case Array(n)    => (n, 1)
      case Array(n, d) =>
        require(d > 0 && d <= Int.MaxValue, s"$path: npy cols $d")
        (n, d.toInt)
      case _ => sys.error(
        s"$path: npy shape ($shapeStr) has rank ${dims.length}; " +
          "only 1-D/2-D arrays map to vector tables")
    }
    Header(descr, fortran, rows, cols, dataOffset)
  }

  private def readHeaderAt(spark: SparkSession, pathStr: String): Header =
    readHeaderAt(spark.sparkContext.hadoopConfiguration, pathStr)

  /** Driver-side header probe: two bounded reads (never the payload) —
    * the 12-byte prefix declares the dict length, then exactly the
    * header bytes, so oversized v2/v3 dicts (>64 KiB, legal per NEP-1)
    * parse too. Shared with the DSv2 [[NpyDataSource]] planner. */
  private[sources] def readHeaderAt(
      conf: org.apache.hadoop.conf.Configuration, pathStr: String): Header = {
    val p = new Path(pathStr)
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    try {
      val prefix = new Array[Byte](math.min(len, 12L).toInt)
      in.readFully(0L, prefix)
      require(prefix.length >= 10 && prefix.take(6).sameElements(Magic),
        s"$pathStr: bad npy magic")
      val major = prefix(6) & 0xff
      require(major >= 1 && major <= 3, s"$pathStr: npy version $major")
      require(prefix.length >= (if (major == 1) 10 else 12),
        s"$pathStr: truncated npy (${prefix.length} B)")
      val pb = ByteBuffer.wrap(prefix).order(ByteOrder.LITTLE_ENDIAN)
      // the v2/v3 length field is u32 per NEP-1: mask, or a corrupt
      // >=2^31 value wraps negative and slips past the bounds checks
      val dataOffset =
        if (major == 1) 10L + (pb.getShort(8) & 0xffff)
        else 12L + (pb.getInt(8) & 0xffffffffL)
      require(dataOffset <= len,
        s"$pathStr: npy header claims $dataOffset B, file has $len")
      require(dataOffset <= (16L << 20),
        s"$pathStr: npy header of $dataOffset B is not a plausible dict")
      val buf = new Array[Byte](dataOffset.toInt)
      in.readFully(0L, buf)
      parseHeader(buf, pathStr)
    } finally in.close()
  }

  /** THE npy file-listing contract — glob/dir expansion, `.npy`-only
    * directory filtering (skips the atomic writers' `.tmp` names), path
    * sort. One copy shared by the batch reader, the DSv2 planner, and
    * the DSv2 schema probe, so "first file" can never mean different
    * things to different layers. */
  private[sources] def listNpyStatus(
      conf: org.apache.hadoop.conf.Configuration, paths: Seq[String])
      : Seq[org.apache.hadoop.fs.FileStatus] =
    paths.flatMap { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(conf)
      Option(fs.globStatus(hp)).map(_.toSeq).getOrElse(Nil).flatMap { st =>
        if (st.isDirectory)
          fs.listStatus(st.getPath).toSeq
            .filter(s => s.isFile && s.getPath.getName.endsWith(".npy"))
        else Seq(st)
      }
    }.sortBy(_.getPath.toString)

  private[sources] def listNpy(
      conf: org.apache.hadoop.conf.Configuration, paths: Seq[String])
      : Seq[String] =
    listNpyStatus(conf, paths).map(_.getPath.toString)

  private def resolve(spark: SparkSession, path: String): Seq[String] = {
    val files =
      listNpy(spark.sparkContext.hadoopConfiguration, Seq(path))
    require(files.nonEmpty, s"no npy files at $path")
    files
  }

  /** Headers for every file under `path`, path-sorted, with uniform
    * descr/cols enforced (fortran_order may vary per shard — numpy decides
    * per array). */
  private def headersFor(spark: SparkSession, path: String)
      : Seq[(String, Header)] = {
    val withHeaders = resolve(spark, path).map { p =>
      (p, readHeaderAt(spark, p))
    }
    val (p0, h0) = withHeaders.head
    withHeaders.tail.foreach { case (p, h) =>
      require(h.descr == h0.descr,
        s"npy dtype drift: $p0 is ${h0.descr}, $p is ${h.descr}")
      require(h.cols == h0.cols,
        s"npy dims drift: $p0 is ${h0.cols}-d, $p is ${h.cols}-d")
    }
    withHeaders
  }

  /** Element (row, col) → payload byte offset, honoring storage order. */
  private def elOffset(h: Header, row: Long, col: Int): Long = {
    val idx = if (h.fortran) col.toLong * h.rows + row
              else row * h.cols + col
    h.dataOffset + idx * h.elBytes
  }

  private def readElement(bb: ByteBuffer, off: Long, descr: String): Double = {
    val o = off.toInt
    descr match {
      case "f8" => bb.getDouble(o)
      case "f4" => bb.getFloat(o).toDouble
      case "f2" =>
        graft.functions.Binary16.halfToFloat(bb.getShort(o)).toDouble
      case "i1" => bb.get(o).toDouble
      case "u1" => (bb.get(o) & 0xff).toDouble
      case "i2" => bb.getShort(o).toDouble
      case "u2" => (bb.getShort(o) & 0xffff).toDouble
      case "i4" => bb.getInt(o).toDouble
      case "u4" => (bb.getInt(o) & 0xffffffffL).toDouble
      case "i8" => bb.getLong(o).toDouble
    }
  }

  /** Decode every row of one standalone npy blob (header included) as
    * `(rowInFile, widened values)` — the executor-side kernel shared by
    * [[read]] and [[graft.streaming.StreamingShards]]. Header re-parse per
    * file is trivia next to payload decode. */
  def decodeAll(bytes: Array[Byte], path: String = "<bytes>")
      : Iterator[(Long, Array[Double])] = {
    val h = parseHeader(bytes, path)
    require(bytes.length.toLong == h.dataOffset + h.payloadBytes,
      s"$path: npy payload ${bytes.length - h.dataOffset} B != shape " +
        s"(${h.rows}, ${h.cols}) × ${h.elBytes} B")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    (0L until h.rows).iterator.map { r =>
      val out = new Array[Double](h.cols)
      var c = 0
      while (c < h.cols) {
        out(c) = readElement(bb, elOffset(h, r, c), h.descr)
        c += 1
      }
      (r, out)
    }
  }

  /** Read a `.npy` file/dir/glob into `(id BIGINT, vec ARRAY<DOUBLE>)` —
    * the read_npy twin. Ids are dense in (path, row) order like
    * [[VecsIO.read]]; every supported dtype widens to double (the engine's
    * working type; kernels re-narrow as needed).
    *
    * Rides the binaryFile source, whose per-file content caps at 2 GB —
    * a bigger single array is only readable through the range-splitting
    * DSv2 path (`spark.read.format("graftnpy")`), which is also the
    * faster choice for any file over one task's worth of work. */
  def read(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val headers = headersFor(spark, path)
    headers.foreach { case (p, h) =>
      val expect = h.dataOffset + h.payloadBytes
      val fp = new Path(p)
      val len = fp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(fp).getLen
      require(len == expect,
        s"$p: npy payload ${len - h.dataOffset} B != shape " +
          s"(${h.rows}, ${h.cols}) × ${h.elBytes} B")
    }
    val bases = headers.scanLeft(0L) { case (acc, (_, h)) => acc + h.rows }
    val baseByPath = headers.map(_._1).zip(bases).toMap
    val bcBase = spark.sparkContext.broadcast(baseByPath)
    spark.read.format("binaryFile").load(headers.map(_._1): _*)
      .select("path", "content").as[(String, Array[Byte])]
      .flatMap { case (p, bytes) =>
        val base = bcBase.value(p)
        decodeAll(bytes, p).map { case (r, out) => (base + r, out) }
      }
      .toDF("id", "vec")
  }

  /** BYTE-RESIDENT ingest for `|i1` / `|u1` npy files: payload bytes land
    * as `ARRAY<TINYINT>` raw bit patterns with the matching
    * [[graft.functions.ByteVecs]] signedness mark (u1 200 → byte −56 +
    * unsigned mark), never widening — the npy twin of
    * [[VecsIO.readBytesU8]]. */
  def readBytes(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val headers = headersFor(spark, path)
    val descr = headers.head._2.descr
    require(descr == "i1" || descr == "u1",
      s"readBytes needs an i1/u1 npy, got $descr — use read()")
    val bases = headers.scanLeft(0L) { case (acc, (_, h)) => acc + h.rows }
    val bcMeta = spark.sparkContext.broadcast(headers.toMap)
    val bcBase =
      spark.sparkContext.broadcast(headers.map(_._1).zip(bases).toMap)
    val df = spark.read.format("binaryFile").load(headers.map(_._1): _*)
      .select("path", "content").as[(String, Array[Byte])]
      .flatMap { case (p, bytes) =>
        val h = bcMeta.value(p)
        val base = bcBase.value(p)
        require(bytes.length.toLong == h.dataOffset + h.payloadBytes,
          s"$p: npy payload ${bytes.length - h.dataOffset} B != shape " +
            s"(${h.rows}, ${h.cols}) × ${h.elBytes} B")
        (0L until h.rows).iterator.map { r =>
          val out = new Array[Byte](h.cols)
          var c = 0
          while (c < h.cols) {
            out(c) = bytes(elOffset(h, r, c).toInt)
            c += 1
          }
          (base + r, out.toSeq)
        }
      }
      .toDF("id", "vec")
    graft.functions.ByteVecs.markSignedness(df, "vec",
      unsigned = descr == "u1")
  }

  /** HALF-RESIDENT ingest for `<f2` npy files: payload shorts land as
    * `ARRAY<SMALLINT>` raw binary16 bit patterns with the f16
    * [[graft.functions.HalfVecs]] mark, never widening — half the scan
    * bytes of f4, a quarter of f8; the FlatKnn half branch serves them
    * directly (npy twin of [[VecsIO.readHalfF16]]). */
  def readHalf(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val headers = headersFor(spark, path)
    val descr = headers.head._2.descr
    require(descr == "f2",
      s"readHalf needs an f2 npy, got $descr — use read()")
    val bases = headers.scanLeft(0L) { case (acc, (_, h)) => acc + h.rows }
    val bcMeta = spark.sparkContext.broadcast(headers.toMap)
    val bcBase =
      spark.sparkContext.broadcast(headers.map(_._1).zip(bases).toMap)
    val df = spark.read.format("binaryFile").load(headers.map(_._1): _*)
      .select("path", "content").as[(String, Array[Byte])]
      .flatMap { case (p, bytes) =>
        val h = bcMeta.value(p)
        val base = bcBase.value(p)
        require(bytes.length.toLong == h.dataOffset + h.payloadBytes,
          s"$p: npy payload ${bytes.length - h.dataOffset} B != shape " +
            s"(${h.rows}, ${h.cols}) × ${h.elBytes} B")
        val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
        (0L until h.rows).iterator.map { r =>
          val out = new Array[Short](h.cols)
          var c = 0
          while (c < h.cols) {
            out(c) = bb.getShort(elOffset(h, r, c).toInt)
            c += 1
          }
          (base + r, out.toSeq)
        }
      }
      .toDF("id", "vec")
    graft.functions.HalfVecs.markHalf(df, graft.functions.HalfVecs.F16)
  }

  /** Half-resident writer: `ARRAY<SMALLINT>` rows persist their raw
    * binary16 bit patterns as `<f2` — [[readHalf]] restores residency and
    * mark exactly. Only f16-marked frames may pass (npy has no bfloat16
    * descr; bf16 bits written as f2 would silently decode differently). */
  def writeHalf(df: DataFrame, dir: String): Unit = {
    import graft.functions.HalfVecs
    require(HalfVecs.requireFormat(df.schema, "vec") == HalfVecs.F16,
      "writeHalf: npy has no bfloat16 descr — re-encode to f16 first")
    val spark = df.sparkSession
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf.value)
    fs.delete(dirPath, true)
    fs.mkdirs(dirPath)
    df.select(col("id").cast("long"), col("vec"))
      .sortWithinPartitions("id")
      .rdd
      .mapPartitionsWithIndex { case (pi, iter) =>
        if (iter.isEmpty) Iterator.empty
        else {
          val rows = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
          var cols = -1
          iter.foreach { row =>
            val v = row.getSeq[Short](1)
            if (cols < 0) cols = v.length
            require(v.length == cols,
              s"row ${row.getLong(0)}: ${v.length} dims, expected $cols")
            val bb = ByteBuffer.allocate(cols * 2)
              .order(ByteOrder.LITTLE_ENDIAN)
            v.foreach(bb.putShort)
            rows += bb.array()
          }
          val out = new Path(dir, f"part-$pi%05d.npy")
          writeAtomic(out, conf.value) { os =>
            os.write(headerBytes("f2", rows.length.toLong, cols))
            rows.foreach(os.write)
          }
          Iterator.single(pi)
        }
      }
      .count()
  }

  /** Canonical v1.0 header bytes for `(rows, cols)` of `descr`, padded so
    * the payload starts 64-byte aligned — byte-compatible with what
    * `np.save` emits. */
  def headerBytes(descr: String, rows: Long, cols: Int): Array[Byte] = {
    // any multi-byte width is byte-order-sensitive — '|' on u2/u4 would
    // make a big-endian consumer's np.load silently byte-swap every value
    val prefix = if (elBytes(descr) > 1) "<" else "|"
    val dict = s"{'descr': '$prefix$descr', 'fortran_order': False, " +
      s"'shape': ($rows, $cols), }"
    val unpadded = 10 + dict.length + 1
    val padded = ((unpadded + 63) / 64) * 64
    val hlen = padded - 10
    require(hlen <= 0xffff, s"npy dict too large ($hlen B)")
    val out = ByteBuffer.allocate(padded).order(ByteOrder.LITTLE_ENDIAN)
    out.put(Magic).put(1.toByte).put(0.toByte)
    out.putShort(hlen.toShort)
    out.put(dict.getBytes(StandardCharsets.ISO_8859_1))
    while (out.position() < padded - 1) out.put(' '.toByte)
    out.put('\n'.toByte)
    out.array()
  }

  /** Write `out` via a temp name + rename: a concurrently running
    * [[graft.streaming.StreamingShards]] file stream must never list a
    * half-written shard (its `*.npy` glob skips the `.tmp` name; rename
    * makes the final name appear atomically). Shared by every shard
    * writer here and [[VecsIO.write]]. */
  private[sources] def writeAtomic(out: Path,
      conf: org.apache.hadoop.conf.Configuration)
      (body: org.apache.hadoop.fs.FSDataOutputStream => Unit): Unit = {
    val fs = out.getFileSystem(conf)
    val tmp = new Path(out.getParent, out.getName + ".tmp")
    val os = fs.create(tmp, true)
    try body(os) finally os.close()
    // replace semantics, strongest available per filesystem:
    //  - file://  → java.nio ATOMIC_MOVE (a true posix rename(2): the
    //    destination always holds either the old or the new artifact);
    //  - HDFS     → FileContext.rename(OVERWRITE), which DFSClient
    //    implements as one atomic namenode op;
    //  - other FileContext-bound FSes → the same call, BUT the
    //    AbstractFileSystem DEFAULT implements overwrite as
    //    delete-then-rename — there a crash mid-replace can still leave
    //    only `.tmp` (open() - style recovery is the caller's job);
    //  - no AbstractFileSystem binding → explicit delete+rename, same
    //    window. The body-failure contract (a failed RE-RUN leaves the
    //    pre-existing output intact) holds on every path: the body
    //    writes only `.tmp`.
    val qOut = fs.makeQualified(out)
    if ("file" == qOut.toUri.getScheme)
      java.nio.file.Files.move(
        java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath),
        java.nio.file.Paths.get(qOut.toUri.getPath),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    else
      try {
        org.apache.hadoop.fs.FileContext.getFileContext(qOut.toUri, conf)
          .rename(fs.makeQualified(tmp), qOut,
            org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      } catch {
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
          fs.delete(out, false)
          require(fs.rename(tmp, out), s"rename $tmp -> $out failed")
      }
  }

  /** Best-effort sweep of stale `*.tmp` orphans that a failed or
    * speculatively-duplicated [[writeAtomic]] attempt left behind.
    * The legacy RDD writers have no commit protocol (unlike the DSv2
    * sources, whose commit sweeps by queryId), so without this,
    * orphans accumulate across append-mode waves. Runs driver-side
    * BEFORE tasks open their own `.tmp` names, and the job owns the
    * target directory, so only leftovers from previous waves die. */
  private[sources] def sweepStaleTmp(
      fs: org.apache.hadoop.fs.FileSystem, dir: Path): Unit =
    Option(fs.listStatus(dir)).getOrElse(Array.empty).foreach { st =>
      if (st.isFile && st.getPath.getName.endsWith(".tmp"))
        try fs.delete(st.getPath, false)
        catch { case _: java.io.IOException => () }
    }

  /** One element out, little-endian. The unsigned widths mask through
    * `toLong` — `Double.toInt` SATURATES at 2³¹−1, so a u4 value like
    * 4294967295.0 would otherwise clamp instead of writing 0xFFFFFFFF;
    * via toLong the full u16/u32 value spaces round-trip exactly
    * (doubles hold integers exactly to 2⁵³). */
  private[sources] def encodeElement(bb: ByteBuffer, x: Double,
                                     descr: String): Unit =
    descr match {
      case "f8" => bb.putDouble(x)
      case "f4" => bb.putFloat(x.toFloat)
      case "f2" =>
        bb.putShort(graft.functions.Binary16.floatToHalf(x.toFloat))
      case "i1" => bb.put(x.toInt.toByte)
      case "u1" => bb.put((x.toInt & 0xff).toByte)
      case "i2" => bb.putShort(x.toInt.toShort)
      case "u2" => bb.putShort((x.toLong & 0xffffL).toShort)
      case "i4" => bb.putInt(x.toInt)
      case "u4" => bb.putInt((x.toLong & 0xffffffffL).toInt)
      case "i8" => bb.putLong(x.toLong)
      case d    => sys.error(s"npy write does not support descr $d")
    }

  /** Write `(id, vec)` as `part-NNNNN.npy` shards under `dir`, one
    * C-order v1.0 file per partition (each a standalone `np.load`-able
    * array). The shape header needs the row count up front, so each
    * partition buffers its encoded rows before writing — partitions are
    * already sized to fit executor memory, and the buffer holds exactly
    * the bytes the file will. Use `repartitionByRange(n, col("id"))`
    * upstream for globally id-ordered shards.
    *
    * `idShardNames = true` names each shard `base-<startId>.npy` and
    * REQUIRES the partition's ids to be contiguous (range-partitioned
    * dense ids) — the filename then carries everything a later reader
    * needs to reconstruct exact original ids, which is what
    * [[graft.streaming.StreamingShards.npyShardsWithIds]] keys on when
    * shards land incrementally. `append = true` (only with id-named
    * shards — name collisions are impossible across disjoint id ranges)
    * adds shards to an existing directory instead of replacing it: the
    * landing-waves shape. */
  def write(df: DataFrame, dir: String, descr: String = "f4",
            idShardNames: Boolean = false, append: Boolean = false): Unit = {
    val d = normalizeDescr(descr)
    require(!append || idShardNames,
      "npy append needs idShardNames=true (positional part names collide)")
    val spark = df.sparkSession
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf.value)
    if (!append) fs.delete(dirPath, true)
    fs.mkdirs(dirPath)
    sweepStaleTmp(fs, dirPath)
    df.select(col("id").cast("long"), col("vec").cast("array<double>"))
      .sortWithinPartitions("id")
      .rdd
      .mapPartitionsWithIndex { case (pi, iter) =>
        if (iter.isEmpty) Iterator.empty
        else {
          val rows = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
          var cols = -1
          var firstId = Long.MinValue
          var prevId = Long.MinValue
          iter.foreach { row =>
            val v = row.getSeq[Double](1)
            val id = row.getLong(0)
            if (cols < 0) { cols = v.length; firstId = id; prevId = id - 1 }
            require(v.length == cols,
              s"row $id: ${v.length} dims, expected $cols")
            // exact contiguity, row by row — a span==count check would
            // pass when duplicates and gaps cancel, and the base-named
            // file would then lie about its ids
            require(!idShardNames || id == prevId + 1,
              s"idShardNames needs contiguous ids per partition: id $id " +
                s"follows $prevId — repartitionByRange dense ids first")
            prevId = id
            val bb = ByteBuffer.allocate(cols * elBytes(d))
              .order(ByteOrder.LITTLE_ENDIAN)
            v.foreach(x => encodeElement(bb, x, d))
            rows += bb.array()
          }
          val out = if (idShardNames) new Path(dir, f"base-$firstId%012d.npy")
            else new Path(dir, f"part-$pi%05d.npy")
          writeAtomic(out, conf.value) { os =>
            os.write(headerBytes(d, rows.length.toLong, cols))
            rows.foreach(os.write)
          }
          Iterator.single(pi)
        }
      }
      .count()
  }

  /** ONE `np.load`-able output file from a multi-partition frame — the
    * "hand a single 100 GB array back to a NumPy consumer" egress. The
    * shard writers above are the right default (independent loadable
    * shards, fully parallel), but a consumer wanting ONE file needs the
    * row count in the header BEFORE the payload, which a streaming
    * single-pass writer cannot know. Two passes instead:
    *
    *   1. each partition STREAMS its encoded rows to a headerless
    *      segment file (no whole-partition buffer — the executor holds
    *      one row at a time, so a segment may exceed memory), returning
    *      only (partition, firstId, lastId, rows) metadata;
    *   2. the driver validates the ids chain densely 0..n−1 across
    *      segments (the exact-id re-read contract: (path, row) order IS
    *      the id), writes the header, and stream-concatenates the
    *      segments in order through a bounded copy buffer.
    *
    * Driver memory stays O(8 MB); driver I/O is the full payload once —
    * the unavoidable cost of a single file on a filesystem without
    * server-side concat. [[read]]/`graftnpy` restore exact ids. */
  def writeSingleFile(df: DataFrame, outPath: String,
                      descr: String = "f4"): Unit = {
    val d = normalizeDescr(descr)
    val spark = df.sparkSession
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val out = new Path(outPath)
    val fs = out.getFileSystem(conf.value)
    val segDir = new Path(outPath + ".segments")
    fs.delete(segDir, true)
    fs.mkdirs(segDir)
    val segDirStr = segDir.toString
    val elB = elBytes(d)
    // pass 1+2 fused per partition: range-partition by id so segment
    // order is id order, stream rows straight to the segment file.
    // The collect runs the segment-writing tasks, so it sits INSIDE the
    // sweep-on-failure region below — a task-side dims/density failure
    // must not strand the segments it already landed.
    // The range count is the input's own width, read off the RDD this
    // job runs (no second planning of `df` to count it).
    def collectMeta() = {
      val byId = df.select(col("id").cast("long"), col("vec")
          .cast("array<double>")).rdd
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      byId.repartitionAndSortWithinPartitions(new org.apache.spark
          .RangePartitioner(math.max(1, byId.getNumPartitions), byId))
      .mapPartitionsWithIndex { case (pi, iter) =>
        if (iter.isEmpty) Iterator.empty
        else {
          val p = new Path(segDirStr, f"seg-$pi%05d")
          val os = p.getFileSystem(conf.value).create(p, true)
          var first = Long.MinValue
          var prev = Long.MinValue
          var cols = -1
          var rows = 0L
          try {
            iter.foreach { case (id, v) =>
              if (cols < 0) { cols = v.length; first = id; prev = id - 1 }
              require(v.length == cols,
                s"row $id: ${v.length} dims, expected $cols")
              require(id == prev + 1,
                s"writeSingleFile needs dense ids: id $id follows $prev")
              prev = id
              val bb = ByteBuffer.allocate(cols * elB)
                .order(ByteOrder.LITTLE_ENDIAN)
              v.foreach(x => encodeElement(bb, x, d))
              os.write(bb.array())
              rows += 1
            }
          } finally os.close()
          Iterator.single((pi, first, prev, rows, cols))
        }
      }
      .collect()
      .sortBy(_._1)
    }
    // header+concat go to outPath+".tmp" and RENAME into place on success
    // (writeAtomic): the final name never holds a truncated file, and a
    // failed re-run — task failure, dims drift, non-dense ids — sweeps
    // only its own tmp and segments, leaving any PRE-EXISTING valid
    // output at the final name intact (the old unconditional
    // delete-on-failure destroyed an artifact this attempt never wrote)
    try {
      val meta = collectMeta()
      require(meta.nonEmpty, "writeSingleFile: empty frame")
      val cols = meta.head._5
      require(meta.forall(_._5 == cols), "dims drift across partitions")
      // ids must chain densely 0..n−1 — (path, row) order IS the id on
      // re-read, so any gap or offset would silently remap every row
      var expect = 0L
      meta.foreach { case (pi, first, last, rows, _) =>
        require(first == expect,
          s"writeSingleFile needs dense ids from 0: partition $pi starts " +
            s"at $first, expected $expect")
        expect = last + 1
        require(last - first + 1 == rows, s"partition $pi id gap")
      }
      val n = expect
      writeAtomic(out, conf.value) { os =>
        os.write(headerBytes(d, n, cols))
        val buf = new Array[Byte](8 << 20)
        meta.foreach { case (pi, _, _, _, _) =>
          val p = new Path(segDirStr, f"seg-$pi%05d")
          val in = fs.open(p)
          try {
            var got = in.read(buf)
            while (got >= 0) {
              if (got > 0) os.write(buf, 0, got)
              got = in.read(buf)
            }
          } finally in.close()
        }
      }
    } catch {
      case e: Throwable =>
        try { fs.delete(new Path(outPath + ".tmp"), false); () }
        catch { case _: java.io.IOException => () }
        try { fs.delete(segDir, true); () }
        catch { case _: java.io.IOException => () }
        throw e
    }
    fs.delete(segDir, true)
  }

  /** Byte-resident writer: `ARRAY<TINYINT>` rows persist their raw bit
    * patterns as `|u1` or `|i1` per the column's required
    * [[graft.functions.ByteVecs]] signedness mark — [[readBytes]] restores
    * residency and mark exactly. */
  def writeBytes(df: DataFrame, dir: String): Unit = {
    import graft.functions.ByteVecs
    require(ByteVecs.isByteVec(df.schema("vec").dataType),
      "writeBytes needs an ARRAY<TINYINT> vec — use write()")
    val unsigned = ByteVecs.requireSignedness(df.schema, "vec")
    val descr = if (unsigned) "u1" else "i1"
    val spark = df.sparkSession
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf.value)
    fs.delete(dirPath, true)
    fs.mkdirs(dirPath)
    df.select(col("id").cast("long"), col("vec"))
      .sortWithinPartitions("id")
      .rdd
      .mapPartitionsWithIndex { case (pi, iter) =>
        if (iter.isEmpty) Iterator.empty
        else {
          val rows = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
          var cols = -1
          iter.foreach { row =>
            val v = row.getSeq[Byte](1)
            if (cols < 0) cols = v.length
            require(v.length == cols,
              s"row ${row.getLong(0)}: ${v.length} dims, expected $cols")
            rows += v.toArray
          }
          val out = new Path(dir, f"part-$pi%05d.npy")
          writeAtomic(out, conf.value) { os =>
            os.write(headerBytes(descr, rows.length.toLong, cols))
            rows.foreach(os.write)
          }
          Iterator.single(pi)
        }
      }
      .count()
  }
}
