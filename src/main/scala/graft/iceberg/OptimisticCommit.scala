package graft.iceberg

import org.apache.hadoop.fs.Path

/** Optimistic-concurrency commit over versioned metadata documents — the
  * compare-and-swap protocol that makes `v{N}.metadata.json` tables safe
  * for MULTIPLE concurrent committers (Iceberg's HadoopTableOperations
  * model: the filesystem's atomic no-overwrite primitive IS the catalog).
  *
  * Protocol per attempt:
  *   1. refresh: resolve the latest committed version N and parse it;
  *   2. apply: run the caller's update against the REFRESHED base — the
  *      update must be a pure function of (base, basePath), so a retry
  *      re-derives its snapshot on top of whatever won meanwhile;
  *   3. publish: write the candidate to a uniquely-named temp file, then
  *      CLAIM `v{N+1}.metadata.json` atomically. Exactly one committer
  *      can claim a given version; losers refresh and re-apply.
  *
  * The claim primitive is scheme-aware: on `file://` a hard link
  * (`link(2)` fails EEXIST atomically — a plain rename would silently
  * overwrite on POSIX); elsewhere the Hadoop `rename`, which HDFS
  * guarantees not to overwrite an existing destination. Object stores
  * without an atomic claim need a real catalog service — same boundary
  * Iceberg draws.
  *
  * Readers are never torn: the document appears at its final path in one
  * atomic operation, fully written.
  */
object OptimisticCommit {

  final case class CommitConflictException(message: String)
    extends RuntimeException(message)

  final case class CommitResult(version: Int, path: String,
      metadata: TableMetadata, attempts: Int)

  private val VersionRe = """v(\d+)\.metadata\.json""".r

  def metadataPath(tableDir: String, version: Int): String =
    s"$tableDir/v$version.metadata.json"

  /** The version of a metadata path THIS module produced — the inverse
    * of [[metadataPath]]. Fails loudly on any other shape: a silent
    * fallback would misreport version 0 if the layout ever changed. */
  def versionOf(path: String): Int =
    VersionRe.findFirstMatchIn(path.split('/').last).map(_.group(1).toInt)
      .getOrElse(throw new IllegalArgumentException(
        s"not a versioned metadata path: $path"))

  private def hintPath(tableDir: String) = new Path(s"$tableDir/version-hint.text")

  /** Latest committed version. The `version-hint.text` a winner drops
    * (HadoopCatalog's layout) makes refresh O(1): read the hint, walk
    * FORWARD while the next version exists — the hint may be stale (it is
    * written best-effort after the claim), never wrong as a lower bound.
    * No/garbage hint falls back to one directory listing. */
  def currentVersion(tableDir: String): Int = {
    val fs = HadoopConfs.fileSystemFor(tableDir)
    val dir = new Path(tableDir)
    if (!fs.exists(dir)) return 0
    val hinted =
      try {
        val in = fs.open(hintPath(tableDir))
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
        val v = txt.toInt
        if (v > 0 && fs.exists(new Path(metadataPath(tableDir, v)))) Some(v) else None
      } catch { case _: Exception => None }
    hinted match {
      case Some(v0) =>
        var v = v0
        while (fs.exists(new Path(metadataPath(tableDir, v + 1)))) v += 1
        v
      case None =>
        fs.listStatus(dir).map(_.getPath.getName).collect {
          case VersionRe(n) => n.toInt
        }.foldLeft(0)(math.max)
    }
  }

  /** Atomically claim `target` with the fully-written `tmp` content.
    * True = this committer won the version; false = a concurrent commit
    * got there first (caller refreshes and retries). */
  private def claim(tableDir: String, tmp: Path, target: Path): Boolean = {
    val fs = HadoopConfs.fileSystemFor(tableDir)
    val isLocal = Option(target.toUri.getScheme).forall(_ == "file")
    if (isLocal) {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(fs.makeQualified(target).toUri.getPath),
          java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath))
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else {
      // HDFS-contract rename: returns false rather than overwriting an
      // existing destination — the other half of the CAS story
      !fs.exists(target) && fs.rename(tmp, target)
    }
  }

  /** Commit `update` with refresh-and-retry CAS semantics. The update
    * receives the freshly-parsed latest metadata and its path (for the
    * metadata-log lineage) and returns the successor document. A commit
    * that adds a snapshot goes through [[SnapshotProducer.commit]], which
    * derives the snapshot, its manifests and its manifest list from the
    * refreshed base inside this loop; metadata-only changes (properties,
    * refs, schema, expiry) update the document directly. An update that
    * cannot apply on the refreshed base (e.g. a file it planned to
    * rewrite is gone) should throw — that aborts the commit rather than
    * publishing a wrong table state. */
  def commit(tableDir: String, update: (TableMetadata, String) => TableMetadata,
      maxAttempts: Int = 5): CommitResult = {
    val fs = HadoopConfs.fileSystemFor(tableDir)
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val baseV = currentVersion(tableDir)
      require(baseV > 0, s"no committed metadata under $tableDir — write v1 first")
      val basePath = metadataPath(tableDir, baseV)
      val next = update(TableMetadata.parseFile(basePath), basePath)
      val target = new Path(metadataPath(tableDir, baseV + 1))
      val tmp = new Path(s"$tableDir/.tmp-${java.util.UUID.randomUUID()}.metadata.json")
      val out = fs.create(tmp, false)
      try out.write(MetadataWriter.toJson(next)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      val won = claim(tableDir, tmp, target)
      fs.delete(tmp, false) // claimed content lives at target (hard link) or not at all
      if (won) {
        // best-effort refresh hint (HadoopCatalog's version-hint.text):
        // stale-on-race is fine — readers walk forward from it
        try {
          val out = fs.create(hintPath(tableDir), true)
          try out.write((baseV + 1).toString.getBytes(
            java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
        } catch { case _: Exception => () }
        return CommitResult(baseV + 1, target.toString, next, attempt)
      }
    }
    throw CommitConflictException(
      s"commit on $tableDir lost the version race $maxAttempts times — " +
        "a hotter table needs a catalog with server-side commits")
  }
}
