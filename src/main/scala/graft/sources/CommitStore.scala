package graft.sources

import java.nio.file.{FileAlreadyExistsException, Files, Paths, StandardOpenOption}

import org.apache.hadoop.fs.{FileSystem, Path}

/** How a table commit becomes visible: the one publish of Delta's
  * `_delta_log/<v>.json` and of Iceberg's `metadata/vN.metadata.json`.
  * Both protocols need the log store to give mutual exclusion (Delta
  * PROTOCOL.md, the Iceberg spec's atomic metadata swap): of two writers
  * publishing one version, exactly one wins, and readers never see a
  * partial file.
  *
  * On `file:` the bytes go to a staged sibling, which is then hard-linked
  * to the target. `link(2)` fails with EEXIST when the target exists, so
  * the check and the publish are one system call, and the target appears
  * with all its bytes. A plain `rename(2)` replaces an existing target, and
  * an exists-check followed by a create leaves a window between the two.
  * The staged file is deleted after the link either way. The staged bytes
  * are written straight through java.nio, not through Hadoop's checksummed
  * local filesystem, so a commit published here has no `.crc` sidecar;
  * that filesystem reads a file without one unverified.
  *
  * Other schemes keep the exists check, the staged write and the rename.
  * That is exclusive only where the store's rename refuses an existing
  * target; per-scheme rules and optimistic retry are not implemented. */
object CommitStore {

  /** Publish `bytes` at `target`, which must not exist yet. When it does
    * (another writer got there first), nothing is published and `lost` is
    * thrown. Missing parent directories are created. */
  def publish(fs: FileSystem, target: Path, bytes: Array[Byte])(lost: => Exception): Unit = {
    val stagedName = s".${target.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp"
    if (fs.getScheme == "file") {
      val t = Paths.get(fs.makeQualified(target).toUri)
      val staged = t.resolveSibling(stagedName)
      Files.createDirectories(t.getParent)
      Files.write(staged, bytes, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      try Files.createLink(t, staged)
      catch { case _: FileAlreadyExistsException => throw lost }
      finally Files.deleteIfExists(staged)
    } else {
      if (fs.exists(target)) throw lost
      val staged = new Path(target.getParent, stagedName)
      val out = fs.create(staged, false)
      try out.write(bytes) finally out.close()
      if (!fs.rename(staged, target)) {
        fs.delete(staged, false)
        throw lost
      }
    }
  }
}
