package graft.sources

import org.apache.spark.sql.SparkSession

/** Marker-guarded build-once protocol for persisted artifacts (index
  * layouts, oracle fixtures): if `root/markerName` exists the artifact
  * is reused, otherwise `build` runs and the marker is written last, so
  * a crashed half-build never passes for complete. All IO goes through
  * the Hadoop FileSystem resolved from the path — local disk and
  * HDFS/S3 behave identically. One implementation for every artifact
  * (the source-fingerprinted roots of [[sourceRoot]], media fixtures) so
  * hardening lands in one place.
  *
  * Concurrency contract: builders within ONE JVM are serialized per
  * marker path, and a lost marker-create race (another writer finished
  * while ours built — both builds are deterministic, so the bytes are
  * identical) is treated as success. Across JVMs the protocol assumes a
  * SINGLE WRITER per root: two drivers racing the same unbuilt root can
  * interleave `mode=overwrite` writes with the other's reads, which no
  * marker can repair — coordinate externally (pre-build the artifact,
  * or give each driver its own root) in multi-driver deployments.
  */
object Artifacts {
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  /** `root/marker` keys this JVM has already ensured. */
  private val ensured = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Default base of every source-fingerprinted artifact root. Absolute
    * on purpose, like `NpoParquet.dir`: a driver started from any working
    * directory reuses the same roots; the `spark.graft.<kind>Root` confs
    * are the only override.
    */
  private val fixtures = "/root/repo/fixtures"

  /** The root of the `kind` artifact derived from `dir/<table>.parquet`,
    * built once per source fingerprint: `<base>[/<sub>]/<srcdir>_<fp>`
    * where `fp` is the source's size and mtime, `srcdir` its parent dir
    * name and `base` the `spark.graft.<kind>Root` conf, defaulting to
    * the repository's `fixtures/<kind lowercased>`. A regenerated source
    * mints a fresh root, so two sources can never serve each other's
    * artifact; `sub` separates layouts of one source (the k-means cell
    * count) and nests under a conf-supplied base too. The first call per root in this JVM
    * prunes stale siblings and runs [[ensureOnce]] with `marker`; later
    * calls return the root without touching the file system beyond the
    * source stat.
    */
  def sourceRoot(s: SparkSession, dir: String, table: String, kind: String,
                 marker: String, sub: String = "")(build: String => Unit): String = {
    val src = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val st = src.getFileSystem(s.sparkContext.hadoopConfiguration).getFileStatus(src)
    val base = s.conf.get(s"spark.graft.${kind}Root", s"$fixtures/${kind.toLowerCase}") +
      (if (sub.isEmpty) "" else s"/$sub")
    val prefix = s"${src.getParent.getName}_"
    val name = s"$prefix${st.getLen}_${st.getModificationTime}"
    val root = s"$base/$name"
    if (!ensured.contains(s"$root/$marker")) {
      pruneStaleSiblings(s, base, prefix, name)
      ensureOnce(s, root, marker)(build(root))
      ensured.add(s"$root/$marker")
    }
    root
  }

  /** Delete sibling roots under `base` that share `prefix` (same source
    * table) but are not `keep` (the current fingerprint): every
    * regeneration of the source parquet mints a fresh fingerprinted root,
    * and without this the dead ones accumulate on disk forever. Best
    * effort — a prune failure (permissions, concurrent reader on another
    * driver) must never fail the query that triggered it.
    *
    * Assumes one live source per basename under `base`: two source dirs
    * sharing a basename (`/a/sf0.1` and `/b/sf0.1`) would prune each
    * other's roots on alternating access. Give such deployments distinct
    * artifact bases via the `spark.graft.<kind>Root` confs.
    */
  private def pruneStaleSiblings(s: SparkSession, base: String, prefix: String, keep: String): Unit =
    try {
      val basePath = new org.apache.hadoop.fs.Path(base)
      val fs = basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(basePath))
        fs.listStatus(basePath).foreach { st =>
          val n = st.getPath.getName
          if (st.isDirectory && n.startsWith(prefix) && n != keep)
            fs.delete(st.getPath, true)
        }
    } catch { case _: Throwable => () }

  /** Resolve the live generation dir of a pointer-published artifact:
    * `root/<name>.ptr` holds the generation dir's NAME; absent pointer
    * falls back to the legacy fixed dir `root/<name>` (pre-generation
    * layouts). Resolution is per-read, so long-lived sessions always
    * see the latest flip.
    */
  def generationPath(s: SparkSession, root: String, name: String): String = {
    val ptr = new org.apache.hadoop.fs.Path(s"$root/$name.ptr")
    val fs = ptr.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(ptr)) s"$root/${readSmall(fs, ptr)}" else s"$root/$name"
  }

  /** Generation-dir + pointer-file publish for whole-table index
    * artifacts (IVF centroids, PQ codebook, BM25 stats): `write` fills
    * a NEW generation dir `root/<name>-gNNNNNN`, then the pointer file
    * `root/<name>.ptr` flips to it via an atomic overwrite-rename
    * (`FileContext` `Rename.OVERWRITE` — atomic in the HDFS namenode;
    * the object-store analogue is a manifest commit, Iceberg/Delta
    * style). A crash anywhere before the flip leaves the pointer on
    * the previous COMPLETE generation, so readers never observe a
    * half-written table — and because a publish never overwrites a
    * path a live plan is reading, the documented Spark
    * recache-on-overwrite trap cannot reach pointer-published
    * artifacts. The immediately-previous generation is retained for
    * in-flight readers; older generations (and any stale partial from
    * a crashed publish) are pruned best-effort.
    */
  def publishGeneration(s: SparkSession, root: String, name: String)(write: String => Unit): Unit = {
    val key = s"$root/$name.ptr"
    locks.computeIfAbsent(key, _ => new Object).synchronized {
      val conf = s.sparkContext.hadoopConfiguration
      val ptr = new org.apache.hadoop.fs.Path(key)
      val fs = ptr.getFileSystem(conf)
      val cur = if (fs.exists(ptr)) Some(readSmall(fs, ptr)) else None
      val genRe = (java.util.regex.Pattern.quote(name) + "-g(\\d+)").r
      val curIdx = cur.collect { case genRe(i) => i.toLong }.getOrElse(0L)
      val next = f"$name-g${curIdx + 1}%06d"
      // mode=overwrite inside `write` clobbers a stale partial from a
      // crashed publish that reached the same index.
      write(s"$root/$next")
      val tmp = new org.apache.hadoop.fs.Path(s"$root/$name.ptr.tmp")
      val out = fs.create(tmp, true)
      out.write(next.getBytes("UTF-8"))
      out.close()
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, conf)
      fc.rename(tmp, ptr, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      // Prune generations older than the one just superseded.
      try fs.listStatus(new org.apache.hadoop.fs.Path(root)).foreach { st =>
        st.getPath.getName match {
          case genRe(i) if st.isDirectory && i.toLong < curIdx =>
            fs.delete(st.getPath, true)
          case n if n == name && st.isDirectory && curIdx >= 1L =>
            // Legacy fixed-dir layout, now at least two publishes
            // behind: prune. On the FIRST pointer publish (curIdx == 0)
            // the legacy dir is retained as the previous generation —
            // a cross-process reader that resolved generationPath just
            // before the flip (pointer absent → legacy dir) may still
            // be scanning it, the same keep-current-plus-previous rule
            // every later publish honors.
            fs.delete(st.getPath, true)
          case _ => ()
        }
      } catch { case _: Throwable => () }
    }
  }

  /** Read a small control file (pointer, meta) fully. A single
    * InputStream.read may legally return fewer bytes than available
    * (HDFS/S3 streams do this under the reader's feet), which would
    * truncate a generation name into a wrong artifact path — so loop
    * to EOF.
    */
  private[graft] def readSmall(fs: org.apache.hadoop.fs.FileSystem,
                               p: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](256)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, "UTF-8").trim
    } finally in.close()
  }

  def ensureOnce(s: SparkSession, root: String, markerName: String)(build: => Unit): Unit = {
    val key = s"$root/$markerName"
    locks.computeIfAbsent(key, _ => new Object).synchronized {
      val marker = new org.apache.hadoop.fs.Path(key)
      val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(marker)) {
        build
        try fs.create(marker, false).close()
        catch {
          // Exists-after-build: a concurrent writer completed the same
          // deterministic build first; ours is byte-identical — success.
          case _: java.io.IOException if fs.exists(marker) => ()
        }
      }
    }
  }
}
