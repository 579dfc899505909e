package graft
import graft.functions.AnnSearch

/** Dev diagnostic (not part of the engine surface): prints recall@20 vs the
  * exact scan for single-probe LSH (4 and 12 tables), multi-probe LSH
  * (4 tables), trained two-level IVF, and IVF-PQ, all at the corpus auto
  * widths, per sf directory argument. The numbers quoted in FunctionsSpec's
  * multi-probe and trained-IVF tests come from this. */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq else Seq("/root/testdata/sf0.1")
    val spark = GraftSession()
    import spark.implicits._
    for (dir <- dirs) {
      val e = Tables.embeddings(spark, dir)
      val n = e.count()
      val nb = AnnSearch.autoBits(n)
      val q = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
      val exact = AnnSearch.cosineTopK(e.filter($"vec_id" =!= 0), q, 20)
        .select($"vec_id").as[Long].collect().toSet
      def r(df: org.apache.spark.sql.DataFrame) = {
        val g = df.select($"vec_id").as[Long].collect().toSet
        (exact intersect g).size.toDouble / exact.size
      }
      val s4  = r(AnnSearch.annTopK(e.filter($"vec_id" =!= 0), q, 20, 64, nb, 4))
      val s12 = r(AnnSearch.annTopK(e.filter($"vec_id" =!= 0), q, 20, 64, nb, 12))
      val m4  = r(AnnSearch.annTopKMulti(e.filter($"vec_id" =!= 0), q, 20, 64, nb, 4))
      val nC = AnnSearch.autoCentroids(n)
      val nG = AnnSearch.autoCoarse(nC)
      val ivf = r(AnnSearch.ivfTopK(e, q, 20, nCentroids = nC,
        nProbe = math.max(2, nC / 8), nCoarse = nG,
        trainN = AnnSearch.autoTrainN(n, nC),
        gProbe = math.max(2, nG / 4), excludeId = 0L))
      val pq = r(AnnSearch.ivfPqTopK(e, q, 20, nCentroids = nC,
        nProbe = math.max(2, nC / 8), nCoarse = nG,
        trainN = AnnSearch.autoTrainN(n, nC),
        gProbe = math.max(2, nG / 4), ksub = AnnSearch.autoKsub(n),
        rerankR = AnnSearch.autoRerank(n), excludeId = 0L))
      println(s"[recall] dir=$dir n=$n nb=$nb single4=$s4 single12=$s12 " +
        s"multi4=$m4 ivf(nC=$nC,nG=$nG)=$ivf ivfpq=$pq")
    }
    spark.stop()
  }
}
