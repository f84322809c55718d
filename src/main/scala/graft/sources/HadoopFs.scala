package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Filesystem probes resolved through the Hadoop `FileSystem` API — the
  * ONE place batch (persisted-index staleness) and streaming
  * (TextStreaming / VectorStreaming history listing) answer "is this
  * artifact there, and how fresh is it".
  *
  * Why not `java.io.File`: persisted indexes and streaming state take
  * arbitrary path strings, which on a cluster name HDFS/S3 locations.
  * `File.exists` is always false and `File.lastModified` is 0 for
  * those, so a local-only probe silently rebuilds a persisted index on
  * every query (forfeiting the entire point of the offline artifact) or
  * disables cross-batch dedup. Resolving each path through
  * `Path.getFileSystem(conf)` gives the same one-RPC probe on every
  * filesystem Spark can read.
  *
  * [[parquet]] is the one parquet reader of the table loaders and the
  * persisted-index probes: it infers each dataset's schema once per
  * version of its files instead of once per plan.
  */
object HadoopFs {

  private def fsOf(conf: Configuration, p: Path): FileSystem = p.getFileSystem(conf)

  /** Modification time of `path` itself, 0 if absent. The exists /
    * getFileStatus pair can race a concurrent delete — a path that
    * vanishes between the two calls IS absent, so FNF maps to 0L
    * rather than failing the probe.
    */
  def mtimeOf(conf: Configuration, path: String): Long = {
    val p = new Path(path)
    val fs = fsOf(conf, p)
    try if (fs.exists(p)) fs.getFileStatus(p).getModificationTime else 0L
    catch { case _: java.io.FileNotFoundException => 0L }
  }

  /** Newest modification time under `path`: the path itself or any
    * DESCENDANT file, recursively (a parquet dataset's freshness lives
    * in its part files — which a Hive-partitioned layout nests under
    * partition subdirs, and object stores don't bump "directory" mtimes
    * on overwrite, so every leaf file must be consulted). 0 if absent.
    */
  def newestMtime(conf: Configuration, path: String): Long = {
    val p = new Path(path)
    val fs = fsOf(conf, p)
    if (!fs.exists(p)) 0L
    else
      // the FNF guard covers the WHOLE post-exists probe (getFileStatus
      // + recursive listing): a path or part file deleted after
      // exists() returned true means "the source is changing
      // right now", which must read as maximally fresh (forcing an
      // index rebuild), not as a query failure
      try {
        val st = fs.getFileStatus(p)
        if (!st.isDirectory) st.getModificationTime
        else {
          var m = st.getModificationTime
          val it = fs.listFiles(p, true) // recursive: leaf files only
          while (it.hasNext) m = math.max(m, it.next().getModificationTime)
          m
        }
      } catch {
        case _: java.io.FileNotFoundException => Long.MaxValue
      }
  }

  /** Direct children of `path` as fully-qualified path strings; empty
    * if the path is absent or not a directory.
    */
  def listChildren(conf: Configuration, path: String): Seq[String] = {
    val p = new Path(path)
    val fs = fsOf(conf, p)
    // same exists/getFileStatus/list race as mtimeOf: a directory
    // deleted mid-probe is an absent directory, not a failure
    try if (fs.exists(p) && fs.getFileStatus(p).isDirectory)
      fs.listStatus(p).map(_.getPath.toString).toIndexedSeq
    else Seq.empty
    catch { case _: java.io.FileNotFoundException => Seq.empty }
  }

  /** A hash of build parameters: [[indexPath]] embeds it over the
    * parameters plus [[codeFingerprint]], and the gate curve's cache and
    * registry names over the fit parameters alone.
    */
  def paramFingerprint(params: Any*): String =
    (scala.util.hashing.MurmurHash3.stringHash(
      params.mkString("|")) & 0x7fffffff).toHexString

  /** The slug a data dir contributes to cache/registry names — shared
    * by [[indexPath]] and the curve registry so the two key the same
    * corpus identically. Normalized first: a trailing
    * slash or redundant `.` segment must not silently derail a lookup
    * onto a different name (for already-clean absolute paths the
    * normalization is the identity, so existing artifact names are
    * unchanged).
    */
  def dirSlug(dir: String): String = {
    // Paths.get collapses the "//" in URI-style dirs (hdfs://, s3a://),
    // which would shift their slug vs the raw form and orphan existing
    // registry/cache entries for remote roots — only scheme-less local
    // paths get path-normalized (where normalization of an already-clean
    // path is the identity)
    val norm =
      if (dir.contains("://")) dir
      else java.nio.file.Paths.get(dir).normalize.toString
    norm.replaceAll("[^A-Za-z0-9]", "_")
  }

  /** Fingerprint of graft's compiled code ([[codeFingerprintOf]] the
    * code source this class was loaded from), computed once per JVM. An
    * unreadable code source keys as `nocode`.
    */
  lazy val codeFingerprint: String = scala.util.Try(codeFingerprintOf(
    new java.io.File(getClass.getProtectionDomain.getCodeSource.getLocation.toURI)))
    .getOrElse("nocode")

  /** CRC-32C over every `.class` file below `graft/` in `root` (a classes
    * directory or a jar), in path order, each file's `/`-separated
    * relative path, a 0 byte and its bytes; 8 hex digits. The same
    * classes key alike in a directory and in a jar.
    */
  private[graft] def codeFingerprintOf(root: java.io.File): String = {
    import scala.jdk.CollectionConverters._
    val classes: Seq[(String, Array[Byte])] =
      if (root.isDirectory) {
        def under(f: java.io.File, rel: String): Seq[(String, Array[Byte])] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(k => under(k, s"$rel/${k.getName}"))
          else if (rel.endsWith(".class")) Seq(rel -> java.nio.file.Files.readAllBytes(f.toPath))
          else Nil
        under(new java.io.File(root, "graft"), "graft")
      } else {
        val jar = new java.util.jar.JarFile(root)
        try jar.entries.asScala
          .filter(e => e.getName.startsWith("graft/") && e.getName.endsWith(".class"))
          .map(e => e.getName -> jar.getInputStream(e).readAllBytes()).toSeq
        finally jar.close()
      }
    val crc = new java.util.zip.CRC32C()
    for ((name, bytes) <- classes.sortBy(_._1)) {
      crc.update(name.getBytes("UTF-8"))
      crc.update(0)
      crc.update(bytes)
    }
    f"${crc.getValue}%08x"
  }

  /** Fingerprinted tmpdir location for a persisted index family: the
    * directory name embeds a hash of every BUILD parameter and of
    * graft's compiled code ([[codeFingerprint]]), so neither a parameter
    * change nor a change to the build code can serve an artifact built
    * by the older one — [[indexStale]]'s mtime check only protects
    * against SOURCE changes. Distinct builds get distinct directories
    * (they coexist; the orphaned one ages out with the tmpdir).
    * Concurrent writers of the SAME build still share a path —
    * acceptable because the build is deterministic (both produce
    * identical bytes) and the witness-last commit means a reader never
    * sees a torn write as fresh.
    */
  def indexPath(family: String, dir: String, params: Any*): String = {
    val fp = paramFingerprint(params :+ codeFingerprint: _*)
    s"${sys.props("java.io.tmpdir")}/graft_${family}_${fp}_${dirSlug(dir)}"
  }

  /** Content fingerprint the curve registry keys corpora by
    * (`<totalBytes>b<fileCount>f<maxFileBytes>`): a checkout's mtimes
    * are meaningless (git stamps them at checkout time), so committed
    * curves can't use the tmpdir cache's mtime staleness rule — file
    * sizes are the cheap content witness. Total bytes ALONE let a
    * corpus regenerated in place with coincidentally equal totals
    * silently serve the old committed curve (same-shape parquet
    * totals differ by only a few bytes of compression noise); the file
    * count and the largest file's exact size now have to collide too.
    * None for an absent/empty corpus — no content, no identity.
    */
  def contentKey(conf: Configuration, path: String): Option[String] = {
    val p = new Path(path)
    val fs = fsOf(conf, p)
    try {
      if (!fs.exists(p)) None
      else {
        val it = fs.listFiles(p, true)
        var sum = 0L
        var n = 0L
        var mx = 0L
        while (it.hasNext) {
          val len = it.next().getLen
          sum += len
          n += 1
          mx = math.max(mx, len)
        }
        if (sum == 0L) None else Some(s"${sum}b${n}f$mx")
      }
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** True when a persisted index at `indexDir` is missing or NOT NEWER
    * than its source data — the rebuild trigger of every
    * [[PersistedIndex]] (a stale index keyed only by path must not
    * silently serve signatures of a replaced source table). The index's
    * freshness witness is its `_SUCCESS` marker (written last by the
    * committer); the source's is the newest file under it. A TIE
    * rebuilds: filesystem mtime granularity can be a full second
    * (object stores, some NFS), so "same tick" cannot distinguish
    * index-after-source from source-after-index — and a spurious
    * rebuild is cheap where serving a stale index is not.
    */
  def indexStale(conf: Configuration, indexDir: String, sourcePath: String): Boolean = {
    val successM = mtimeOf(conf, s"$indexDir/_SUCCESS")
    successM == 0L || successM <= newestMtime(conf, sourcePath)
  }

  /** Listing fingerprint of every file under `path`
    * (`<files>f<totalBytes>b<newestMtime>m<nameHash>`); None when the
    * path is absent or holds no file. The name hash is what catches a
    * Spark overwrite whose counts, sizes and mtime tick all collide:
    * every write job names its part files with a fresh UUID.
    */
  private def listingKey(conf: Configuration, path: String): Option[String] = {
    val p = new Path(path)
    val fs = fsOf(conf, p)
    try {
      if (!fs.exists(p)) None
      else {
        val it = fs.listFiles(p, true)
        var n = 0L
        var bytes = 0L
        var newest = 0L
        var names = 0
        while (it.hasNext) {
          val st = it.next()
          n += 1
          bytes += st.getLen
          newest = math.max(newest, st.getModificationTime)
          // order-independent: listing order is not part of the identity
          names += scala.util.hashing.MurmurHash3.stringHash(st.getPath.toString)
        }
        if (n == 0L) None else Some(s"${n}f${bytes}b${newest}m$names")
      }
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** The session confs that change what parquet schema inference returns
    * (`ParquetToSparkSchemaConverter`'s flags, plus merge and summary
    * handling): a memoized schema is reused only under the same values.
    */
  private val ParquetInferenceConfs: Seq[String] = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.caseSensitive")

  private final case class Inferred(listing: String, confs: Seq[String], schema: StructType)

  /** At most this many paths keep a memoized schema, least recently
    * read evicted first. One entry per path: a new version of the files
    * or a changed inference conf replaces it, so the memo holds one
    * StructType per recently read dataset and nothing else.
    */
  private val SchemaMemoPaths = 256

  private val schemaMemo = new java.util.LinkedHashMap[String, Inferred](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, Inferred]): Boolean =
      size() > SchemaMemoPaths
  }

  /** `s.read.parquet(path)` that infers the schema once per version of
    * the files. Without a schema every read runs a Spark job to read a
    * footer (`ParquetFileFormat.mergeSchemasInParallel`) while the plan
    * is still being built; with the memoized one, building a plan runs
    * none. A schema is reused only while both halves of its key hold:
    *  - the listing fingerprint ([[listingKey]]): file count, total
    *    bytes, newest mtime and file names, so a rewrite of the dataset
    *    at the same path is re-inferred;
    *  - the [[ParquetInferenceConfs]] values, so flipping, say,
    *    `binaryAsString` is re-inferred.
    * A miss is the plain read, whose schema is kept; a hit passes that
    * schema back, so the relation and every plan over it are the ones a
    * plain read gives. An absent or empty path takes the plain read and
    * fails as it does.
    */
  def parquet(s: SparkSession, path: String): DataFrame =
    listingKey(s.sparkContext.hadoopConfiguration, path) match {
      case None => s.read.parquet(path)
      case Some(listing) =>
        val confs = ParquetInferenceConfs.map(k => s.conf.getOption(k).orNull)
        schemaMemo.synchronized(Option(schemaMemo.get(path)))
          .filter(m => m.listing == listing && m.confs == confs) match {
          case Some(m) => s.read.schema(m.schema).parquet(path)
          case None =>
            val df = s.read.parquet(path)
            schemaMemo.synchronized(schemaMemo.put(path, Inferred(listing, confs, df.schema)))
            df
        }
    }
}
