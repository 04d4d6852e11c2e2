package graft.engine.util

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, FSLinkResolver, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` filesystem: Hadoop's local filesystem with the two
  * calls that start a child process done in-process instead.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` runs `chmod` for
  * every file it creates and every directory it makes, and
  * `getFileLinkStatus` runs `readlink`, four times per FileContext rename
  * (source and destination, data file and `.crc`). A micro-batch writes
  * its offset and commit logs, state-store deltas, sink parts and their
  * checksums, so each batch paid ~60 process starts.
  *
  * Both overrides keep Hadoop's results: the same permission bits and the
  * same file, symlink, dangling-link and FileNotFound statuses.
  * `LocalFsSpec` checks them against the stock classes.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The rwx bits through `Files.setPosixFilePermissions`. A sticky bit
    * in `permission`, or setuid/setgid/sticky already on the file, go to
    * Hadoop's `chmod <4-digit mode>`: on a directory it keeps setuid and
    * setgid, which the NIO call would clear.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort.toInt
    val file = pathToFile(p).toPath
    if ((bits & ~LocalFs.Rwx) != 0 ||
        (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & LocalFs.Special) != 0)
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, LocalFs.rwx(bits))
  }

  /** Hadoop's link status with the link read by `Files.readSymbolicLink`.
    * Like Hadoop, the link is read at `new File(f.toString)`, so a
    * scheme-qualified path never reads as a symlink.
    */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val target =
      try Files.readSymbolicLink(new java.io.File(f.toString).toPath).toString
      catch { case _: IOException => "" }
    val st =
      try {
        val fs = getFileStatus(f)
        if (target.isEmpty) fs
        else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
          fs.getModificationTime, fs.getAccessTime, fs.getPermission, fs.getOwner,
          fs.getGroup, new Path(target), f)
      } catch {
        case _: FileNotFoundException if target.nonEmpty =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
            new Path(target), f)
      }
    if (st.isSymlink)
      st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
    st
  }
}

object LocalFs {
  private val Perms = PosixFilePermission.values // OWNER_READ .. OTHERS_EXECUTE
  private[util] val Rwx = Integer.parseInt("777", 8)
  private[util] val Special = Integer.parseInt("7000", 8) // setuid, setgid, sticky

  /** The permissions of the low nine bits of `bits`. */
  def rwx(bits: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    Perms.indices.foreach(i => if ((bits & (0x100 >> i)) != 0) s.add(Perms(i)))
    s
  }

  /** The Hadoop confs that install the engine's `file:` classes for both
    * client APIs: `FileSystem` (`fs.file.impl`) and FileContext
    * (`fs.AbstractFileSystem.file.impl`).
    */
  val HadoopConfs: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[EngineLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[EngineLocalFs].getName)
}

/** `fs.file.impl`: the checksummed `LocalFileSystem` over
  * [[NioRawLocalFileSystem]].
  */
class EngineLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** As Hadoop's `RawLocalFs` (whose constructor is package-private), over
  * [[NioRawLocalFileSystem]].
  */
class EngineRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: as Hadoop's `LocalFs`, the
  * checksummed FileContext filesystem over [[EngineRawLocalFs]] at
  * `file:///`. Spark's default streaming checkpoint manager writes
  * through it, with its atomic rename.
  */
class EngineLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new EngineRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
