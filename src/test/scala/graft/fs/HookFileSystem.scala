package graft.fs

import java.net.URI

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** A local filesystem that calls [[HookFileSystem.onMkdirs]] before every
  * `mkdirs` — the seam for injecting a racing writer at an exact point of
  * the commit protocol (the claim step creates `_versions` before its
  * create-exclusive). Registered as scheme `hookfs` (`fs.hookfs.impl`);
  * paths map 1:1 onto the local FS. */
class HookFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("hookfs:///")
  override def getScheme: String = "hookfs"

  override def mkdirs(f: Path): Boolean = {
    HookFileSystem.onMkdirs(f)
    super.mkdirs(f)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    HookFileSystem.onMkdirs(f)
    super.mkdirs(f, permission)
  }
}

object HookFileSystem {
  @volatile var onMkdirs: Path => Unit = _ => ()
}
