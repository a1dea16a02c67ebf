package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}

/** The one write and read protocol for graft's small metadata files —
  * hints, sidecars, nonces, refs, branch manifests, epoch markers, view
  * definitions, registries and checks. Every durability decision lives
  * here; call sites name the file and the primitive, nothing else. It
  * takes a `FileSystem` and no session, so Spark tasks use it too.
  *
  * Two write primitives:
  *  - [[publish]]: write-once, lock-free or task-side files. The bytes
  *    land under a unique dot-named temp sibling that is then renamed
  *    onto the target, so a reader sees the whole file or none.
  *  - [[replace]]: files one writer rewrites under its table or view
  *    lock. The sealed image lands under the fixed name `.<name>-next`,
  *    the old file is deleted and the image renamed into place;
  *    [[current]] finishes a rename a crash interrupted. A heal promotes
  *    only a complete image — one ending in the trailer the writer
  *    appends last — so a torn next image reads as absent.
  *
  * The table lock and the manifest-slot claim stay in [[Snapshots]]:
  * their create-exclusive acquire and fencing are a different protocol.
  */
private[graft] object MetaFiles {

  /** The file's bytes, or None when it does not exist: one open, no
    * exists probe. Any other IO failure propagates.
    */
  def readBytes(fs: FileSystem, p: Path): Option[Array[Byte]] =
    try {
      val in = fs.open(p)
      try Some(in.readAllBytes())
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** The file's UTF-8 text, or None when it does not exist. */
  def readText(fs: FileSystem, p: Path): Option[String] = readBytes(fs, p).map(new String(_, UTF_8))

  /** The file's trimmed text as a Long, None when absent; unparsable
    * content raises.
    */
  def readLong(fs: FileSystem, p: Path): Option[Long] = readText(fs, p).map(_.trim.toLong)

  /** Write `bytes` to a unique temp sibling, then rename it onto `p`.
    * When the rename refuses (a racing publisher, or a filesystem whose
    * rename never replaces an existing target), `overwrite` deletes the
    * target and renames once more; otherwise the temp file is dropped.
    * Returns whether the rename landed.
    */
  def publish(fs: FileSystem, p: Path, bytes: Array[Byte], overwrite: Boolean = false): Boolean = {
    val tmp = new Path(p.getParent, s".tmp-${java.util.UUID.randomUUID()}-${p.getName}")
    write(fs, tmp, bytes)
    fs.rename(tmp, p) || (overwrite && { fs.delete(p, false); fs.rename(tmp, p) }) || {
      fs.delete(tmp, false)
      false
    }
  }

  /** Rewrite `p` with `text` (see the object doc). All writers hold the
    * lock, so the fixed next name never races another writer; a failed
    * rename still succeeds when a lock-free reader's heal already moved
    * exactly this image into place. Returns whether `p` holds `text`.
    */
  def replace(fs: FileSystem, p: Path, text: String): Boolean = {
    val image = seal(text)
    val next = nextImage(p)
    write(fs, next, image.getBytes(UTF_8))
    fs.delete(p, false)
    fs.rename(next, p) || readText(fs, p).contains(image)
  }

  /** The text of a [[replace]]d file, or None when absent. A missing
    * file with a complete next image is the crash window between the
    * delete and the rename: the rename is finished and the new text
    * returned. A file written by hand without the trailer reads as is.
    */
  def current(fs: FileSystem, p: Path): Option[String] =
    readText(fs, p) match {
      case Some(t) => Some(unseal(t).getOrElse(t))
      case None =>
        val next = nextImage(p)
        readText(fs, next).flatMap(unseal).map { body =>
          fs.rename(next, p) // a racing healer or writer lands the same image
          body
        }
    }

  /** The epoch high-water mark at `marker`, -1 before the first advance. */
  def last(fs: FileSystem, marker: Path): Long = current(fs, marker).fold(-1L)(_.trim.toLong)

  /** Advance the epoch high-water mark at `marker` to `epochId`, loudly:
    * a mark that silently stayed behind would re-apply a committed epoch.
    */
  def advance(fs: FileSystem, marker: Path, epochId: Long): Unit =
    if (!replace(fs, marker, epochId.toString))
      sys.error(s"epoch high-water update failed for $marker@$epochId")

  /** The fixed name [[replace]] stages `p`'s next image under. */
  def nextImage(p: Path): Path = new Path(p.getParent, s".${p.getName}-next")

  private val Trailer = "\n#graft-end "

  private def seal(body: String): String = s"$body$Trailer${body.length}\n"

  private def unseal(t: String): Option[String] = {
    val i = t.lastIndexOf(Trailer)
    if (i >= 0 && t.endsWith(s"$Trailer$i\n")) Some(t.substring(0, i)) else None
  }

  private def write(fs: FileSystem, p: Path, bytes: Array[Byte]): Unit = {
    val out = fs.create(p, true)
    try out.write(bytes)
    finally out.close()
  }
}
