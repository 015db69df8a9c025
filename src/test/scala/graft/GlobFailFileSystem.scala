package graft

import org.apache.hadoop.fs.{FileStatus, Path}

/** Test-only `globfail://` scheme: the local filesystem whose
  * `globStatus` fails with an IOException — a store that is present
  * but broken (expired credentials, throttling). `SessionTuneSpec`
  * uses it to prove the partition byte probe propagates the failure
  * instead of reading it as an empty input. */
class GlobFailFileSystem extends S3AStubFileSystem {
  override def getScheme: String = "globfail"
  override def globStatus(p: Path): Array[FileStatus] =
    throw new java.io.IOException(s"globfail: listing refused for $p")
}
