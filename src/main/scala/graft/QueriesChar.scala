package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.CharSeq
import graft.operators.Dedup
import graft.sources.Readers

/** Charsequence-parity + embedding near-dup queries. */
object QueriesChar {

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // indexOf / lastIndexOf (plain + fromPosition) / replaceFirst /
    // splitKeepEmpty / codePoints (native CodePointsExpr)
    "q39_charseq" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      Readers.table(s, dir, "documents").select(
        col("doc_id"),
        CharSeq.indexOf(col("text"), "data").as("idx_data"),
        CharSeq.lastIndexOf(col("text"), "data").as("last_data"),
        CharSeq.indexOf(col("text"), "data", 20).as("idx_data_20"),
        CharSeq.lastIndexOf(col("text"), "data", 100).as("last_data_100"),
        substring(CharSeq.replaceFirst(col("text"), "data", "DATA"), 1, 60)
          .as("repl60"),
        substring(CharSeq.replaceAll(col("text"), "data", "D"), 1, 40)
          .as("replall40"),
        size(CharSeq.splitKeepEmpty(col("text"), "a")).cast("long").as("n_fields"),
        CharSeq.codePointCount(col("text")).as("n_points"),
        aggregate(CharSeq.codePoints(col("text"), 10), lit(0L),
          (acc, x) => acc + x.cast("long")).as("sum_points10"))
        .orderBy(col("doc_id"))
    }),

    // embedding-cosine near-dup pairs inside hyperplane-LSH buckets.
    // The bucket cap guards the mass-duplicated-embedding bomb; 4096 is
    // provably inert here — the embeddings table tops out at 2,000 rows
    // TOTAL at sf0.1 (max bucket asserted < 4096 in OperatorSpec), so
    // results are bit-identical to the uncapped run
    "q40_embedding_neardup" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s) // native graft_dot
      Dedup.embeddingNearDups(Readers.table(s, dir, "embeddings"), "vec_id", "embedding",
        planes = 4, threshold = 0.4, maxBucketSize = Some(4096))
        .select(col("a"), col("b"), round(col("cosine"), 4).as("cosine"))
        .orderBy(col("a"), col("b"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q39_charseq" ->
      """SELECT doc_id,
        |  CAST(strpos(text, 'data') - 1 AS BIGINT) AS idx_data,
        |  CAST(CASE WHEN strpos(text, 'data') = 0 THEN -1
        |    ELSE length(text) - strpos(reverse(text), 'atad')
        |      - length('data') + 1 END AS BIGINT) AS last_data,
        |  CAST(CASE WHEN length(text) <= 20 OR strpos(substr(text, 21), 'data') = 0
        |    THEN -1 ELSE strpos(substr(text, 21), 'data') + 19 END AS BIGINT)
        |    AS idx_data_20,
        |  CAST(CASE WHEN length(text) <= 100
        |      OR strpos(substr(text, 1, 104), 'data') = 0 THEN -1
        |    ELSE length(substr(text, 1, 104))
        |      - strpos(reverse(substr(text, 1, 104)), 'atad')
        |      - length('data') + 1 END AS BIGINT) AS last_data_100,
        |  substr(CASE WHEN strpos(text, 'data') = 0 THEN text
        |    ELSE substr(text, 1, strpos(text, 'data') - 1) || 'DATA'
        |      || substr(text, strpos(text, 'data') + 4) END, 1, 60) AS repl60,
        |  substr(replace(text, 'data', 'D'), 1, 40) AS replall40,
        |  CAST(len(string_split(text, 'a')) AS BIGINT) AS n_fields,
        |  CAST(length(text) AS BIGINT) AS n_points,
        |  CAST(list_sum(list_apply(range(1, least(length(text), 10) + 1),
        |    i -> unicode(substr(text, CAST(i AS INT), 1)))) AS BIGINT)
        |    AS sum_points10
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q40_embedding_neardup" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |comps AS (
        |  SELECT vec_id, unnest(e) AS comp,
        |    generate_subscripts(e, 1) - 1 AS dim
        |  FROM v),
        |projs AS (
        |  SELECT vec_id, p.p AS plane,
        |    sum(comp * (CASE WHEN
        |      substr(md5(p.p::VARCHAR || '-' || dim::VARCHAR), 1, 1)
        |        BETWEEN '8' AND 'f' THEN 1.0 ELSE -1.0 END)) AS proj
        |  FROM comps, generate_series(0, 3) AS p(p)
        |  GROUP BY vec_id, p.p),
        |buckets AS (
        |  SELECT vec_id,
        |    sum(CASE WHEN proj > 0 THEN CAST(pow(2, plane) AS BIGINT)
        |      ELSE 0 END) AS bucket
        |  FROM projs GROUP BY vec_id),
        |pairs AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b,
        |    list_sum(list_apply(range(1, len(va.e) + 1), i -> va.e[i] * vb.e[i]))
        |      / (sqrt(list_sum(list_apply(va.e, x -> x * x)))
        |         * sqrt(list_sum(list_apply(vb.e, x -> x * x)))) AS cosine
        |  FROM buckets a
        |  JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |  JOIN v va ON va.vec_id = a.vec_id
        |  JOIN v vb ON vb.vec_id = b.vec_id)
        |SELECT a, b, round(cosine, 4) AS cosine
        |FROM pairs WHERE cosine >= 0.4 ORDER BY a, b""".stripMargin
  )
}
