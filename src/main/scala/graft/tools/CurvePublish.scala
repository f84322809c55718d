package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.queries.GateCurve

/** Publish the tmpdir gate sizing curve into the repo-committed curve
  * registry. Without it sizing depended on hidden machine state: the
  * curves lived only under the tmpdir, so `rm -rf /tmp/graft_gate*` (or
  * a clean checkout) silently flipped the production gate builds from
  * the certified-cheaper sized budget back to the constant. This copies
  * each corpus's CURRENT tmpdir [[GateCurve]] into
  * `SPARK_GRAFT_CURVE_REGISTRY` (default `gates/curves`) under the name
  * the reader resolves ([[GateCurve.registryFile]]: the slug pins the
  * corpus, the content key is its staleness witness), making the sized
  * build reproducible from the committed tree alone.
  *
  * No Spark session: a curve is a small JSON file and the corpus
  * fingerprint is a filesystem stat. Usage:
  * `sbt "runMain graft.tools.CurvePublish <sfDir> [<sfDir> ...]"`.
  * Stale tmpdir curves (older than the corpus) are refused: a registry
  * must never launder a measurement of a replaced corpus.
  */
object CurvePublish {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: CurvePublish <sfDir> [<sfDir> ...]")
    Files.createDirectories(Paths.get(GateCurve.registryDir))
    val family = GateCurve.family
    for (dir <- args) {
      val src = Paths.get(GateCurve.path(dir))
      GateCurve.registryFile(dir) match {
        case None =>
          println(s"[publish] SKIP $family @ $dir - corpus absent/empty (no content identity)")
        case Some(dst) if !Files.exists(src) =>
          println(s"[publish] skip $family @ $dir - no tmpdir curve at $src (target ${dst.getName})")
        case Some(dst) =>
          // the cache reader's strict-> freshness rule, checked against
          // the TMPDIR file directly (the reader would fall back to the
          // registry itself, which is circular here)
          val fresh = GateCurve.cacheCurrent(src.toFile, dir)
          // a registry entry that doesn't parse with its reader is worse
          // than none: the clean-machine build would silently fall back
          // to the constant while the registry claims the curve is
          // published. Validate BEFORE copying.
          lazy val parses = GateCurve.parse(new String(Files.readAllBytes(src), "UTF-8")).nonEmpty
          if (!fresh)
            println(s"[publish] REFUSE $family @ $dir - tmpdir curve is stale vs the corpus")
          else if (!parses)
            println(s"[publish] REFUSE $family @ $dir - tmpdir curve does not parse " +
              "with its reader (older format or corrupt); re-sweep before publishing")
          else {
            Files.copy(src, dst.toPath, StandardCopyOption.REPLACE_EXISTING)
            println(s"[publish] $family @ $dir -> $dst")
          }
      }
    }
  }
}
