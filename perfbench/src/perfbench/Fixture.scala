package perfbench

import java.io.File
import java.nio.file.Files

import graft.tile.TileConfig

/** Seeded Esri exploded cache (`L{dd}/R{hex8}/C{hex8}.jpg`) for any
  * [[TileConfig]]. The candidate grid is the same range arithmetic as
  * `graft.tile.Tile.levelRanges`; the seed decides which in-world cells
  * hold a tile (~90%) and each payload's size (log-uniform 2–40 KB,
  * random bytes between JPEG SOI/EOI markers, so nothing compresses).
  *
  * Like `TileCacheQueries.ensureFixture`, the cache carries a fingerprint
  * of (config, seed, model) in `.complete`; a cache with a matching
  * fingerprint is reused, anything else is deleted and rebuilt. Presence
  * and sizes are arithmetic, so a reused cache needs no listing.
  */
object Fixture {
  val Presence = 0.9
  val MinBytes = 2048
  val MaxBytes = 40960
  /** Share of present tiles whose PUT always fails (at least one). */
  val PoisonShare = 0.002

  final case class Cell(level: Int, row: Int, col: Int) {
    def key(cfg: TileConfig): String = s"${cfg.mapName}/$level/$row/$col"
    def path: String = f"L$level%02d/R$row%08x/C$col%08x.jpg"
  }

  final case class Cache(
      root: File,
      candidates: Long,
      present: IndexedSeq[Cell],
      poison: Set[String])

  def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def cellHash(seed: Long, c: Cell, salt: Long): Long =
    mix64(mix64(mix64(seed ^ salt) + c.level) * 31 + ((c.row.toLong << 32) | (c.col & 0xFFFFFFFFL)))

  /** The top 53 bits of a hash as a uniform draw in [0, 1). */
  def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble

  /** Every candidate cell of the grid, level by level (inclusive ranges,
    * truncation toward zero, padding unclamped).
    */
  def candidates(cfg: TileConfig): IndexedSeq[Cell] =
    for {
      level <- cfg.startLevel to cfg.endLevel
      ts = cfg.webMercatorDelta * math.pow(2.0, 1 - level)
      sr = ((cfg.webMercatorDelta - cfg.extentMaxY) / ts).toInt - cfg.padY
      er = ((cfg.webMercatorDelta - cfg.extentMinY) / ts).toInt + 1 + cfg.padY
      sc = ((cfg.extentMinX + cfg.webMercatorDelta) / ts).toInt - cfg.padX
      ec = ((cfg.extentMaxX + cfg.webMercatorDelta) / ts).toInt + 1 + cfg.padX
      r <- sr to er
      c <- sc to ec
    } yield Cell(level, r, c)

  def ensure(root: File, cfg: TileConfig, seed: Long): Cache = {
    val cells = candidates(cfg)
    val present = cells.filter { c =>
      c.row >= 0 && c.col >= 0 && c.row < (1 << c.level) && c.col < (1 << c.level) &&
      unit(cellHash(seed, c, 1L)) < Presence
    }
    val nPoison = math.max(1, math.round(present.size * PoisonShare).toInt)
    val poison = present.map(_.key(cfg)).sortBy(k => StoreStub.unitHash(0L, k, -1)).take(nPoison).toSet

    val done = new File(root, ".complete")
    val fingerprint = s"$cfg;seed=$seed;presence=$Presence;bytes=$MinBytes..$MaxBytes;v1"
    if (!(done.exists() && new String(Files.readAllBytes(done.toPath), "UTF-8") == fingerprint)) {
      deleteTree(root)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors())
      try {
        present.grouped(256).toSeq.map { group =>
          pool.submit((() => group.foreach(c => write(new File(root, c.path), payload(seed, c)))): Runnable)
        }.foreach(_.get())
      } finally pool.shutdown()
      Files.createDirectories(root.toPath)
      Files.write(done.toPath, fingerprint.getBytes("UTF-8"))
      // flush now: writeback of a fresh cache would otherwise compete
      // with the timed batches for the disk and the CPU
      val sync = new ProcessBuilder("sync").inheritIO().start()
      if (sync.waitFor() != 0) throw new java.io.IOException("sync failed")
    }
    Cache(root, cells.size.toLong, present, poison)
  }

  /** JPEG-like bytes of a log-uniform size: SOI + APP0 marker, random
    * body, EOI.
    */
  private def payload(seed: Long, c: Cell): Array[Byte] = {
    val n = (MinBytes * math.pow(MaxBytes.toDouble / MinBytes, unit(cellHash(seed, c, 2L)))).toInt
    val b = new Array[Byte](n)
    new java.util.SplittableRandom(cellHash(seed, c, 3L)).nextBytes(b)
    val head = Array(0xFF, 0xD8, 0xFF, 0xE0, 0x00, 0x10, 'J', 'F', 'I', 'F', 0x00).map(_.toByte)
    System.arraycopy(head, 0, b, 0, head.length)
    b(n - 2) = 0xFF.toByte
    b(n - 1) = 0xD9.toByte
    b
  }

  private def write(f: File, bytes: Array[Byte]): Unit = {
    Files.createDirectories(f.getParentFile.toPath)
    Files.write(f.toPath, bytes)
  }

  def deleteTree(root: File): Unit =
    if (root.exists()) {
      import scala.jdk.CollectionConverters._
      Files.walk(root.toPath).sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(p => Files.deleteIfExists(p))
    }
}
