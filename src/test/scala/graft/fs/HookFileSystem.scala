package graft.fs

import java.net.URI

import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** A local filesystem that calls [[HookFileSystem.onMkdirs]] before every
  * `mkdirs` — the seam for injecting a racing writer at an exact point of
  * the commit protocol (the claim step creates `_versions` before its
  * create-exclusive) — and [[HookFileSystem.onOpen]] after every `open`
  * has returned its stream (the seam for deleting a file a reader holds
  * open). Registered as scheme `hookfs` (`fs.hookfs.impl`); paths map 1:1
  * onto the local FS. */
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

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val in = super.open(f, bufferSize)
    HookFileSystem.onOpen(f)
    in
  }
}

object HookFileSystem {
  @volatile var onMkdirs: Path => Unit = _ => ()
  @volatile var onOpen: Path => Unit = _ => ()
}
