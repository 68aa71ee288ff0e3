package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}

/** Hadoop's `file:` filesystem with permissions set in-process. Without
  * Hadoop's native library, [[RawLocalFileSystem.setPermission]] forks
  * a `chmod` for every file and dir Spark creates; this sets the same
  * mode bits through `java.nio`. Checksums (`.crc` files) stay, as in
  * the default [[LocalFileSystem]]. Installed by `Tables.sessionConfigs`
  * as `spark.hadoop.fs.file.impl`.
  */
final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

final class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    import PosixFilePermission._
    def bits(a: FsAction, r: PosixFilePermission, w: PosixFilePermission,
             x: PosixFilePermission) =
      Seq(a.implies(FsAction.READ) -> r, a.implies(FsAction.WRITE) -> w,
        a.implies(FsAction.EXECUTE) -> x).collect { case (true, b) => b }
    val perms = bits(permission.getUserAction, OWNER_READ, OWNER_WRITE,
      OWNER_EXECUTE) ++ bits(permission.getGroupAction, GROUP_READ,
      GROUP_WRITE, GROUP_EXECUTE) ++ bits(permission.getOtherAction,
      OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)
    Files.setPosixFilePermissions(pathToFile(p).toPath, perms.toSet.asJava)
  }
}
