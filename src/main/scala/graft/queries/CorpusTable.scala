package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-corpus materialization of a shared derived relation (r10).
  *
  * Several query batteries consume the SAME derived table (the graph
  * battery's support-≥3 edge set; the dedup battery's ≥0.6-Jaccard pair
  * set), and rebuilding it inside every consumer is the dominant cost at
  * gen scale. This is the lake pattern for any shared derived table at
  * 100 TB: pay the corpus pass once, write the (always ≪ corpus) result
  * as a table, let every consumer read THAT. Here the "lake" is a
  * tmp-dir parquet keyed by the source file's identity so a changed
  * corpus can never serve a stale table; a production deployment would
  * make it a bucketed lake table via the `bucketed_join_e2e` pattern and
  * re-derive it on ingest.
  *
  * Race safety (two concurrent Verify/Bench PROCESSES): build into a
  * unique sibling dir, then atomically rename into place — rename(2)
  * either installs this build or fails because a racer won, in which
  * case the racer's (identical) table is used and ours is discarded.
  * The in-JVM lock only serializes builders within one session.
  */
object CorpusTable {

  /** Normalized identity of a corpus table file, shared with
    * `dev/spotcheck_gen1.py` (which re-derives the same key to locate a
    * materialized table): path + size + mtime-millis, so a regenerated
    * corpus at the same path gets a fresh table.
    */
  private[queries] def corpusKey(dir: String, table: String = "documents.parquet"): String = {
    val src = java.nio.file.Paths.get(dir, table)
    val a = java.nio.file.Files.readAttributes(
      src, classOf[java.nio.file.attribute.BasicFileAttributes])
    val id = s"${src.toAbsolutePath}:${a.size}:${a.lastModifiedTime.toMillis}"
    java.security.MessageDigest.getInstance("MD5")
      .digest(id.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
  }

  private val lock = new Object

  /** Default table store: a PER-PROCESS directory, deleted on JVM exit.
    *
    * The store used to default to the shared tmpdir, where a table built
    * by one JVM invocation (keyed on corpus file identity) served every
    * later invocation — an at-rest deployment shape, but in this
    * single-box harness it let a bench run read an index a previous run
    * had built, i.e. persisted intermediates keyed on the test corpus
    * surviving across runs (r17 optimization ground rule). Scoping the
    * default store to the process keeps the architecture (build once per
    * corpus, every consumer reads the table; a deployment points
    * `spark.graft.corpusTableDir` at shared lake storage) while
    * guaranteeing each invocation computes from the parquet inputs.
    */
  private[queries] lazy val processTableDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_corpus_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => LocalFs.deleteTree(d)))
    d.toString
  }

  /** Read the materialized table at `<tableDir>/<prefix>_<corpusKey>`,
    * building it first (once per corpus, process-race-safe) if absent.
    * `tableDir` comes from `spark.graft.corpusTableDir` (a deployment
    * points it at shared storage — the lake location every executor and
    * every job can read); default is a per-process dir deleted on JVM
    * exit, so in this harness no invocation ever reads a table a
    * previous invocation built (see [[processTableDir]]).
    *
    * Stale-table recovery never deletes the target in place: a dir
    * without `_SUCCESS` that blocks our rename is moved ASIDE with an
    * atomic rename to a unique graveyard name first — so a racer that
    * just installed a good table can never have its part-files deleted
    * out from under it — and the install is retried against the freed
    * slot; any _SUCCESS appearing mid-retry means a racer won and we
    * adopt its table.
    */
  private[queries] def materialized(s: SparkSession, dir: String, prefix: String)(
      build: => DataFrame): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tableDir = s.conf.getOption("spark.graft.corpusTableDir")
      .getOrElse(processTableDir)
    val path = Paths.get(tableDir, s"${prefix}_${corpusKey(dir)}")
    lock.synchronized {
      gcExpired(Paths.get(tableDir), prefix, s)
      if (!Files.exists(path.resolve("_SUCCESS"))) {
        val tmp = Paths.get(s"$path.tmp-${java.util.UUID.randomUUID()}")
        var installed = false
        try {
          build.write.mode("overwrite").parquet(tmp.toString)
          var attempts = 0
          while (!installed && !Files.exists(path.resolve("_SUCCESS")) &&
              attempts < 8) {
            attempts += 1
            try { Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE); installed = true }
            catch { case _: java.nio.file.FileSystemException =>
              if (!Files.exists(path.resolve("_SUCCESS"))) {
                // a stale/partial dir blocks the slot: atomically rename it
                // aside (a racer that completes between our check and this
                // move keeps its table — the move takes the WHOLE dir, never
                // individual part-files), GC the orphan, retry the install
                val aside = Paths.get(s"$path.stale-${java.util.UUID.randomUUID()}")
                try Files.move(path, aside, StandardCopyOption.ATOMIC_MOVE)
                catch { case _: java.nio.file.FileSystemException => () }
                LocalFs.deleteTree(aside)
              }
            }
          }
          if (!installed && !Files.exists(path.resolve("_SUCCESS")))
            throw new IllegalStateException(
              s"CorpusTable: could not install $path after $attempts attempts")
        } finally if (!installed) LocalFs.deleteTree(tmp)
      }
      // refresh the TTL clock on every use so active corpora never expire
      try Files.setLastModifiedTime(path,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
      catch { case _: Exception => () }
    }
    s.read.parquet(path.toString)
  }

  /** GC for the table store (r11 verdict #5): installed tables for this
    * prefix whose mtime is older than `spark.graft.corpusTableTtlHours`
    * (default 7 days) are deleted — regenerated corpora change the key,
    * so superseded tables otherwise accumulate forever — and orphaned
    * `.tmp-`/`.stale-` build dirs older than one hour (a crashed build;
    * live builds finish in seconds) are swept. Active tables survive:
    * every [[materialized]] read touches its table's mtime.
    */
  private def gcExpired(tableDir: java.nio.file.Path, prefix: String,
      s: SparkSession): Unit = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    if (!Files.isDirectory(tableDir)) return
    val ttlMs = s.conf.getOption("spark.graft.corpusTableTtlHours")
      .map(_.toLong).getOrElse(7L * 24) * 3600L * 1000L
    val now = System.currentTimeMillis()
    val stream = Files.list(tableDir)
    try stream.iterator().asScala.foreach { p =>
      val name = p.getFileName.toString
      if (name.startsWith(s"${prefix}_")) {
        val age = now - (try Files.getLastModifiedTime(p).toMillis
                         catch { case _: Exception => now })
        val isBuildLeftover =
          name.contains(".tmp-") || name.contains(".stale-")
        if ((isBuildLeftover && age > 3600L * 1000L) ||
            (!isBuildLeftover && age > ttlMs))
          LocalFs.deleteTree(p)
      }
    } finally stream.close()
  }
}
