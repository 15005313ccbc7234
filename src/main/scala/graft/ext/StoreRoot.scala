package graft.ext

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}
import graft.etl.MergeWriter
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The lifecycle of every persisted store (API catalogs, dedup
  * assignments, streamed keeper state, CDC chunk store, ANN/PQ
  * indexes): [[resolve]] names the store's root, [[once]] builds it.
  *
  * Root identity. A root is keyed by the source dir AND a fingerprint
  * of the table it derives from: row count + max id + an order-free
  * `bit_xor(xxhash64(*))` over whole rows. A regeneration that keeps
  * the shape but changes any column — text, vectors, labels, props —
  * resolves to a new root instead of probing a stale one.
  *
  * The fingerprint is persisted in a `<md5(dir)>.manifest` next to the
  * stores, validated against cheap source-file metadata: the scan's
  * input file listing with per-file size + mtime, plus the inode change
  * time (`unix:ctime`) for `file:` paths, which every write, rename and
  * mtime change moves and no user call can set. A matching manifest
  * resolves the root with no Spark job; any mismatch falls back to the
  * full scan and rewrites the manifest. Other filesystems (HDFS, object
  * stores) expose no ctime, so there the guard is size + mtime alone;
  * deleting the manifest forces the full scan.
  *
  * Build once. `once(root)(build)` runs `build` only when `root` has
  * no `_DONE` marker, wiping whatever a failed earlier build left
  * there first, and writes `_DONE` only after `build` returns. A build
  * that throws therefore leaves no marker, and the next call starts
  * from an empty root.
  *
  * Memos and locks. Both the resolved roots and the finished builds are
  * memoized per JVM (testdata is never regenerated mid-JVM). Builds
  * lock per root, not on one monitor: builds nest (the PQ index builds
  * the IVF index it reads), and a streamed build's micro-batches run on
  * another thread.
  */
private[graft] object StoreRoot {

  private val roots = new ConcurrentHashMap[String, String]()
  private val built = ConcurrentHashMap.newKeySet[String]()
  private val locks = new ConcurrentHashMap[String, AnyRef]()

  /** Cheap, job-free identity of the table's source files: sorted
    * `path|size|mtimeMs` lines, plus `|ctimeNs` for `file:` paths.
    * Listing only — never reads data. None when a listed file cannot be
    * stat'ed (it vanished after the listing, say, or the platform has
    * no unix attribute view): the caller then falls back to the full
    * scan. */
  private def sourceMeta(df: DataFrame): Option[String] = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    try Some(df.inputFiles.sorted.map { f =>
      val p = new Path(f)
      val st = p.getFileSystem(conf).getFileStatus(p)
      val ctime = if (p.toUri.getScheme != "file") "" else "|" +
        Files.getAttribute(Paths.get(p.toUri), "unix:ctime")
          .asInstanceOf[FileTime].to(TimeUnit.NANOSECONDS)
      s"$f|${st.getLen}|${st.getModificationTime}$ctime"
    }.mkString("\n"))
    catch { case _: java.io.IOException | _: UnsupportedOperationException => None }
  }

  /** Root of the store derived from `table(s, dir)`, under `$envKey`
    * (default `target/<defaultSubdir>` in the working dir). */
  def resolve(s: SparkSession, dir: String, envKey: String,
      defaultSubdir: String, table: (SparkSession, String) => DataFrame,
      idCol: String): String =
    roots.computeIfAbsent(s"$envKey|$dir", _ => {
      val parent = sys.env.getOrElse(envKey,
        new java.io.File(sys.props("user.dir"), s"target/$defaultSubdir").getPath)
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val df = table(s, dir)
      val meta = sourceMeta(df)
      val manifest = Paths.get(parent, s"$md.manifest")
      val recorded = meta.filter(_ => Files.exists(manifest)).flatMap { m =>
        val lines = new String(Files.readAllBytes(manifest),
          StandardCharsets.UTF_8).split("\n::\n", 2)
        if (lines.length == 2 && lines(0) == m) Some(lines(1).trim) else None
      }
      val suffix = recorded.getOrElse {
        val r = df.agg(count(lit(1)), max(col(idCol)),
          expr("bit_xor(xxhash64(*))")).collect()(0)
        val sfx =
          s"$md-n${r.getLong(0)}-m${r.getLong(1)}-x${java.lang.Long.toHexString(r.getLong(2))}"
        meta.foreach { m =>
          Files.createDirectories(Paths.get(parent))
          val tmp = Files.createTempFile(Paths.get(parent), s"$md", ".manifest.tmp")
          Files.write(tmp, s"$m\n::\n$sfx\n".getBytes(StandardCharsets.UTF_8))
          Files.move(tmp, manifest, StandardCopyOption.REPLACE_EXISTING,
            StandardCopyOption.ATOMIC_MOVE)
        }
        sfx
      }
      s"$parent/$suffix"
    })

  /** Runs `build` into `root` unless a finished build is already there;
    * returns once `root` holds one. */
  def once(root: String)(build: => Unit): Unit =
    if (!built.contains(root)) locks.computeIfAbsent(root, _ => new AnyRef).synchronized {
      if (!built.contains(root)) {
        val done = Paths.get(root, "_DONE")
        if (!Files.exists(done)) {
          MergeWriter.deleteRecursively(Paths.get(root))
          Files.createDirectories(Paths.get(root))
          build
          Files.createFile(done)
        }
        built.add(root)
      }
    }

  /** Drops both per-JVM memos, as a fresh JVM starts: the next
    * [[resolve]] re-checks the manifest, the next [[once]] the marker. */
  private[graft] def forget(): Unit = { roots.clear(); built.clear() }
}
