package graft.pipeline

import java.nio.file.{Files, Path, StandardCopyOption}

/** Driver-side state files (the watermark, the run ledger, dim fetch
  * stamps) are rewritten whole through a temp file and an atomic
  * move, so a crash mid-write never leaves a truncated file for the
  * next run to misread. */
private[pipeline] object AtomicFile {
  def write(p: Path, text: String): Unit = {
    if (p.getParent != null) Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.writeString(tmp, text)
    Files.move(tmp, p,
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }
}
