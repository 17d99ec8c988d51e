package graft.io

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `file://` filesystem with java.nio permission handling (r18).
  *
  * Without libhadoop (this image ships none), Hadoop's
  * RawLocalFileSystem.setPermission FORKS a `chmod` process per written
  * file — and every parquet task write sets permissions on its output
  * (create + the committer's mkdirs), so the micro-batch-heavy queries
  * paid one fork/exec + thread spawn + join per tiny file. A wall-clock
  * stack sample of q_summary_bucketed showed ProcessImpl.forkAndExec +
  * Shell.runCommand among the top write-stage states (~0.5–0.7 s per
  * 2 s query). This subclass reroutes setPermission through
  * Files.setPosixFilePermissions — same chmod semantics, no process.
  *
  * Checksum behavior, create/rename/list semantics are untouched (the
  * checksummed LocalFileSystem wrapper stays); HDFS/S3 deployments are
  * unaffected (different scheme). Installed via
  * `spark.hadoop.fs.file.impl=graft.io.NioLocalFileSystem` in the
  * launcher (build.sbt javaOptions); remove that line to fall back to
  * the stock implementation. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    if (permission == null) return
    val m = permission.toShort.toInt
    // setuid/setgid/sticky have no PosixFilePermission: the stock chmod
    // path keeps them, the nio path below would clear them
    if ((m & 0xE00) != 0) return super.setPermission(p, permission)
    val file = pathToFile(p).toPath
    val perms = new java.util.HashSet[java.nio.file.attribute.PosixFilePermission]()
    import java.nio.file.attribute.PosixFilePermission._
    if ((m & 0x100) != 0) perms.add(OWNER_READ)
    if ((m & 0x080) != 0) perms.add(OWNER_WRITE)
    if ((m & 0x040) != 0) perms.add(OWNER_EXECUTE)
    if ((m & 0x020) != 0) perms.add(GROUP_READ)
    if ((m & 0x010) != 0) perms.add(GROUP_WRITE)
    if ((m & 0x008) != 0) perms.add(GROUP_EXECUTE)
    if ((m & 0x004) != 0) perms.add(OTHERS_READ)
    if ((m & 0x002) != 0) perms.add(OTHERS_WRITE)
    if ((m & 0x001) != 0) perms.add(OTHERS_EXECUTE)
    try java.nio.file.Files.setPosixFilePermissions(file, perms)
    catch {
      case _: UnsupportedOperationException =>
        super.setPermission(p, permission) // non-POSIX FS: stock path
      case e: java.nio.file.NoSuchFileException =>
        throw new java.io.FileNotFoundException(e.getMessage)
    }
  }
}
