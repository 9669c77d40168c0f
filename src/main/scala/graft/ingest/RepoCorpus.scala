package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic source-code corpus — the engine's canonical
  * input shape per BASELINE.json `input_hint`:
  * (repo: string, path: string, commit: string, lang: string,
  * content: string). Stands in for the Iceberg-cataloged repository
  * table at 10^12-file scale; generated distributed via
  * `spark.range(nFiles)` so it scales linearly with cluster size, and
  * every cell is a pure function of (seed, row id) — independent of
  * partitioning, so two runs (or two cluster sizes) produce
  * byte-identical rows.
  *
  * Link structure: each file embeds 0..k import/require lines
  * referencing OTHER repos, with targets drawn from a power-law
  * (Zipf-ish) distribution so low-id repos become heavy in-link hubs —
  * exercising the skew the kernel compile's hub salting
  * (SpmvKernel.compile) exists for. A configurable fraction of repos is
  * dangling (no out-links — PageRank sink-leak semantics, reference
  * pr.h:31-33) or isolated.
  */
object RepoCorpus {

  val Langs: Array[String] = Array("scala", "java", "py", "js", "go")

  /** splitmix64 — deterministic per-cell PRNG step (public domain
    * algorithm; same one java.util.SplittableRandom uses). */
  @inline private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def u01(z: Long): Double = ((z >>> 11).toDouble / (1L << 53).toDouble)

  def repoName(id: Long, nOrgs: Int): String = s"org${id % nOrgs}/proj$id"

  /** Power-law target sampler: maps u∈[0,1) to a repo id with
    * P(id) ∝ (id+1)^(-skew)-ish via inverse-CDF of the continuous
    * approximation — cheap, deterministic, hub-heavy at low ids. */
  private def zipfTarget(u: Double, n: Long, skew: Double): Long = {
    val x = math.pow(u, skew) // skew>1 ⇒ mass concentrates near 0
    math.min(n - 1, (x * n).toLong)
  }

  final case class Config(
      nRepos: Long = 100,
      filesPerRepo: Int = 5,
      maxLinksPerFile: Int = 4,
      skew: Double = 2.5,
      danglingFrac: Double = 0.1, // repos that never link out
      seed: Long = 42L)

  def importLine(lang: String, target: String): String = {
    val Array(org, proj) = target.split("/")
    lang match {
      case "scala" => s"import $org.$proj._"
      case "java"  => s"import $org.$proj.Lib;"
      case "py"    => s"from $org.$proj import util"
      case "js"    => s"""const lib = require("@$org/$proj");"""
      case "go"    => s"""import "github.com/$org/$proj""""
    }
  }

  /** Generate the corpus table. Pure function of cfg — safe to call at
    * any scale factor for tests, benches, and the two-parallelism
    * scaling run. */
  def generate(spark: SparkSession, cfg: Config): DataFrame = {
    import spark.implicits._
    val c = cfg
    spark.range(c.nRepos * c.filesPerRepo).mapPartitions { it =>
      it.map { fileId =>
        val repoId = fileId / c.filesPerRepo
        val fileIdx = (fileId % c.filesPerRepo).toInt
        val base = mix(c.seed ^ mix(fileId))
        val lang = Langs((mix(base ^ 1) & 0x7fffffff).toInt % Langs.length)
        val repo = repoName(repoId, nOrgs = math.max(1, (c.nRepos / 10).toInt))
        val ext = lang match {
          case "py" => "py"; case "js" => "js"; case "go" => "go"
          case l => l
        }
        val path = s"src/m$fileIdx/f${mix(base ^ 2) & 0xffff}.$ext"
        val commit = f"${mix(base ^ 3)}%016x${mix(base ^ 4)}%016x${(mix(base ^ 5) & 0xff)}%08x"
        val dangling = u01(mix(c.seed ^ mix(repoId * 7919L))) < c.danglingFrac
        val nLinks = if (dangling) 0
          else (mix(base ^ 6) & 0x7fffffff).toInt % (c.maxLinksPerFile + 1)
        val links = (0 until nLinks).flatMap { j =>
          val t = zipfTarget(u01(mix(base ^ (100L + j))), c.nRepos, c.skew)
          if (t == repoId) None // no self-links at gen time
          else Some(importLine(lang, repoName(t, math.max(1, (c.nRepos / 10).toInt))))
        }
        val body = s"// synthetic file $fileId of $repo\n" +
          links.mkString("\n") +
          s"\nfun body_${mix(base ^ 7) & 0xffffff} = ${mix(base ^ 8) & 0xffff}\n"
        (repo, path, commit.take(40), lang, body)
      }
    }.toDF("repo", "path", "commit", "lang", "content")
  }
}
