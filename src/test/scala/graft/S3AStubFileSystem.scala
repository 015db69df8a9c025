package graft

import java.net.URI
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Test-only `s3a://` scheme implementation backed by the local
  * filesystem: the container has no egress (no hadoop-aws jars, no
  * endpoint), so `S3AIoSpec` registers this class as `fs.s3a.impl`
  * and drives the engine's readers/writers through real `s3a://`
  * URIs — proving the IO surface is scheme-agnostic and that
  * `fs.s3a.*` option plumbing reaches the FileSystem, without
  * touching a network. The bucket authority is accepted and paths
  * resolve to the local path component, so
  * `s3a://bucket/tmp/x` ⇔ local `/tmp/x`.
  */
class S3AStubFileSystem extends RawLocalFileSystem {
  private var stubUri: URI = _

  override def initialize(name: URI, conf: Configuration): Unit = {
    stubUri = URI.create(s"${name.getScheme}://${name.getAuthority}")
    super.initialize(name, conf)
  }

  // called from the superclass constructor (workingDir qualification)
  // before initialize() runs — fall back to a bare scheme URI.
  override def getUri: URI =
    if (stubUri == null) URI.create("s3a:///") else stubUri

  override def getScheme: String = "s3a"

  /** RawLocalFileSystem's lazy file status probes permissions with
    * `new java.io.File(path.toUri)`, which rejects non-`file` schemes;
    * return plain, fully-materialized statuses (default POSIX perms)
    * so listings carry `s3a://` paths without that probe. */
  private def material(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication,
      st.getBlockSize, st.getModificationTime, st.getAccessTime,
      if (st.isDirectory) FsPermission.getDirDefault
      else FsPermission.getFileDefault,
      "graft", "graft", st.getPath)

  override def getFileStatus(f: Path): FileStatus =
    material(super.getFileStatus(f))

  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(material)
}

/** The same local-backed `s3a://` stub behind Hadoop's
  * `AbstractFileSystem` API (`fs.AbstractFileSystem.s3a.impl`): the
  * streaming file sink keeps its `_spark_metadata` log through
  * `FileContext`, which hadoop-aws serves with its own `S3A` class. */
class S3AStubAbstractFileSystem(uri: URI, conf: Configuration)
    extends org.apache.hadoop.fs.DelegateToFileSystem(
      uri, new S3AStubFileSystem, conf, "s3a", false)
