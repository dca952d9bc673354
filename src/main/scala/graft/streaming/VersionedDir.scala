package graft.streaming

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}

/** The one commit path for persisted state. Every family keeps its data
  * in version dirs and makes a version live by rewriting a small pointer
  * file (`_CURRENT`, `_TYPES`, `_LAYERS`, `_EPOCH`, `_PROGRESS`, …), so a
  * crash or a replay needs only two rules, both kept here:
  *
  *  - a write goes to a dir no live pointer names ([[fresh]]), so a
  *    replayed batch never overwrites the files it, or a reader, is
  *    reading;
  *  - a pointer moves by one atomic rename of a forced temp file
  *    ([[commit]]), so a reader sees the old content or the new, never a
  *    torn file. A `.tmp` left by a crash is ignored by [[read]] and
  *    replaced by the next commit.
  *
  * Superseded dirs stay on disk as unreferenced orphans.
  */
object VersionedDir {

  /** The first of `base`, `base.1`, `base.2`, … that `live` rejects. */
  def fresh(base: String, live: String => Boolean): String =
    (Iterator.single(base) ++ Iterator.from(1).map(n => s"$base.$n"))
      .find(!live(_)).get

  /** Replace `dir/name` with `content`: write `name.tmp`, force it to
    * disk, then rename it over `name`.
    */
  def commit(dir: String, name: String, content: String): Unit = {
    val path = Paths.get(dir, name)
    val tmp = Paths.get(dir, s"$name.tmp")
    Files.createDirectories(path.getParent)
    val ch = FileChannel.open(tmp, StandardOpenOption.CREATE,
      StandardOpenOption.WRITE, StandardOpenOption.TRUNCATE_EXISTING)
    try {
      val buf = ByteBuffer.wrap(content.getBytes(UTF_8))
      while (buf.hasRemaining) ch.write(buf)
      ch.force(true)
    } finally ch.close()
    Files.move(tmp, path,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** The committed content of `dir/name`, trimmed; None before the
    * first commit.
    */
  def read(dir: String, name: String): Option[String] = {
    val path = Paths.get(dir, name)
    if (Files.exists(path)) Some(new String(Files.readAllBytes(path), UTF_8).trim)
    else None
  }
}
