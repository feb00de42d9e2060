package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import EntryShared._

/** [[SparkEntry]] slice: conversation/SFT data operators.
  * Query lambdas and their DuckDB oracle mirrors live side by side;
  * the maps compose into the driver contract in [[SparkEntry]].
  * Determinism rules documented there apply to every entry.
  */
private[graft] object QueriesConversations {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- conversation/SFT data operators (round-9) -------------------
    // role-aware exact turn dedup over the derived multi-turn view
    // with every 11th turn's text replaced by a boilerplate
    // acknowledgement (chat corpora are full of "thanks!"-class turns
    // on BOTH sides of the dialogue — without the plant the raw view
    // has no exact dups at small sf and the gate would be vacuous):
    // keeper election per (role, text) by earliest (conv, turn). The
    // boilerplate occurs under both roles, so a role-blind dedup
    // would merge the two groups into one row — the gate catches it.
    "x_conv_dedup" -> ((s, d) =>
      graft.scale.Conversations.turnDedupExact(plantedConversations(s, d))
        .filter(col("is_keeper") && col("dup_count") > 1)
        .select(col("role"), col("text"),
          col("keeper_conv"), col("keeper_turn"), col("dup_count"))),

    // the conversation last mile in ONE composed call: role-aware
    // exact dedup -> suffix truncation to the context budget ->
    // conversation-atomic packing. Every stage is individually green;
    // this key gates the COMPOSITION (survivor turns feed the window,
    // kept turns feed the conv token sums, packs stay atomic)
    "x_conv_e2e" -> ((s, d) => {
      val deduped = graft.scale.Conversations.turnDedupExact(plantedConversations(s, d))
        .filter(col("is_keeper"))
        .select(col("conv_id"), col("turn"), col("role"), col("text"))
      val kept = graft.scale.Conversations.truncateToBudget(deduped, budget = 120)
        .filter(col("kept"))
        .select(col("conv_id"), col("turn"), col("role"), col("text"))
      graft.scale.Conversations.packConversations(kept, budget = 256, shards = 8)
    }),

    // role-aware NEAR dedup: n-gram Jaccard pairs that can only form
    // within a role (role folded into the blocking key); decoded back
    // to (conv, turn) endpoints
    "x_conv_dedup_near" -> ((s, d) =>
      graft.scale.Conversations.turnDedupNearPairs(conversations(s, d),
        k = 3, threshold = 0.2, maxBlockSize = NgramBlockCap)),

    // conversation-preserving chat packing: conversations token-summed
    // and packed atomically (the grouped analogue of
    // x_corpus_split_grouped) — the manifest row set changes if any
    // conversation is ever split across (shard, pack_id)
    "x_conv_pack" -> ((s, d) =>
      graft.scale.Conversations.packConversations(
        conversations(s, d), budget = 256, shards = 8)),

    // SFT context-window truncation: keep each conversation's newest
    // turns within a 120-token budget (newest turn always kept)
    "x_conv_truncate" -> ((s, d) =>
      graft.scale.Conversations.truncateToBudget(
          conversations(s, d), budget = 120)
        .select(col("conv_id"), col("turn"), col("role"),
          col("turn_tokens"), col("kept"))),

    // conversation shape audit: the SFT pre-packing profile
    "x_conv_stats" -> ((s, d) =>
      graft.scale.Conversations.conversationStats(conversations(s, d))),

    // CONVERSATION-level near-dup: re-posted/template-stamped threads
    // share turns — exact turn-set Jaccard over a view built to
    // overlap (5-turn conversations, every 7th doc replaced by one of
    // 13 template turns shared across conversations); boilerplate
    // beyond the df cap is dropped before pairing
    "x_conv_overlap" -> ((s, d) => {
      val v = T(s, d, "documents").select(
        expr("doc_id div 5").as("conv_id"),
        (col("doc_id") % 5 + 1).as("turn"),
        col("doc_id"), col("text"))
        .withColumn("role",
          when(col("turn") % 2 === 1, lit("user")).otherwise(lit("assistant")))
        .withColumn("text",
          when(col("doc_id") % 7 === 0,
            concat(lit("template "), col("conv_id") % 13))
            .otherwise(col("text")))
      graft.scale.Conversations.conversationOverlapPairs(
        v, threshold = 0.1, maxTurnDf = 64)
    }),

    // role-alternation audit over a deliberately mis-shaped role
    // assignment ((turn·13 + conv) % 5 — the derived view's strict
    // alternation would make the gate vacuous): same-role adjacency
    // count + arg-min/max first/last roles per conversation
    "x_conv_alternation" -> ((s, d) =>
      graft.scale.Conversations.alternationAudit(
        conversations(s, d).withColumn("role",
          when((col("turn") * 13 + col("conv_id")) % 5 < 2, lit("user"))
            .otherwise(lit("assistant"))))),

    // chat-template rendering: each conversation serialized to the
    // <|role|>-marked training text by a sorted-struct aggregate —
    // the step between dedup/truncation and tokenization
    "x_conv_render" -> ((s, d) =>
      graft.scale.Conversations.renderTemplate(conversations(s, d))),

    // loss-mask spans over the render: 0-based [start, end) codepoint
    // span per turn plus the assistant mask — exact window sums, the
    // offsets a trainer maps to token spans for loss masking
    "x_conv_maskspans" -> ((s, d) =>
      graft.scale.Conversations.lossMaskSpans(conversations(s, d))
        .select(col("conv_id"), col("turn"), col("role"),
          col("start_char"), col("end_char"), col("masked"))),

    // the SFT last mile COMPOSED through the render: role-aware exact
    // dedup -> suffix truncation to the context budget -> loss-mask
    // spans over the KEPT turns (offsets shift as dropped turns vanish
    // — the composition is exactly what this key gates)
    "x_conv_sft_e2e" -> ((s, d) => {
      val deduped = graft.scale.Conversations.turnDedupExact(plantedConversations(s, d))
        .filter(col("is_keeper"))
        .select(col("conv_id"), col("turn"), col("role"), col("text"))
      val kept = graft.scale.Conversations.truncateToBudget(deduped, budget = 120)
        .filter(col("kept"))
        .select(col("conv_id"), col("turn"), col("role"), col("text"))
      graft.scale.Conversations.lossMaskSpans(kept)
        .select(col("conv_id"), col("turn"), col("role"),
          col("start_char"), col("end_char"), col("masked"))
    }),
  )

  val oracleSql: Map[String, String] = Map(

    // role-aware exact turn dedup: keeper = min encoded (conv, turn)
    // per (role, text) over the boilerplate-planted view; HAVING keeps
    // only duplicated groups
    "x_conv_dedup" ->
      s"""WITH $convViewSql,
         |c3 AS (SELECT conv_id, turn, role,
         |         CASE WHEN (conv_id + turn) % 11 = 0 THEN 'thanks!' ELSE text END AS text
         |       FROM c2)
         |SELECT role, text,
         |       CAST(min(conv_id * 1000000 + turn) // 1000000 AS BIGINT) AS keeper_conv,
         |       CAST(min(conv_id * 1000000 + turn) % 1000000 AS BIGINT) AS keeper_turn,
         |       CAST(count(*) AS BIGINT) AS dup_count
         |FROM c3 GROUP BY 1, 2 HAVING count(*) > 1""".stripMargin,

    // role-aware near dedup: the x_dedup_ngram pair replay with the
    // role folded into the blocking key and block cap, endpoints
    // decoded from the encoded turn key
    "x_conv_dedup_near" ->
      s"""WITH $convViewSql,
         |d AS (SELECT conv_id * 1000000 + turn AS tk, role, text, $toksSql AS toks FROM c2),
         |s0 AS (SELECT tk, role,
         |    CAST(floor(ln(greatest(length(text), 1)) * 2) AS INT) AS lenband,
         |    coalesce(toks[1], '') AS t0,
         |    list_distinct(CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
         |                       ELSE list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')) END) AS sh
         |  FROM d),
         |s AS (SELECT tk, role, lenband, t0, sh FROM
         |    (SELECT s0.*, count(*) OVER (PARTITION BY role, lenband, t0) AS bsz FROM s0)
         |  WHERE bsz <= $NgramBlockCap),
         |p AS (SELECT a.tk AS tk_a, b.tk AS tk_b,
         |    len(list_intersect(a.sh, b.sh)) AS inter,
         |    len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS un
         |  FROM s a JOIN s b ON a.role = b.role AND a.lenband = b.lenband AND a.t0 = b.t0 AND a.tk < b.tk)
         |SELECT DISTINCT
         |       CAST(tk_a // 1000000 AS BIGINT) AS conv_a,
         |       CAST(tk_a % 1000000 AS BIGINT) AS turn_a,
         |       CAST(tk_b // 1000000 AS BIGINT) AS conv_b,
         |       CAST(tk_b % 1000000 AS BIGINT) AS turn_b,
         |       CASE WHEN un > 0 THEN CAST(inter AS DOUBLE) / un ELSE 0 END AS jaccard
         |FROM p
         |WHERE CASE WHEN un > 0 THEN CAST(inter AS DOUBLE) / un ELSE 0 END >= 0.2""".stripMargin,

    // conversation e2e: dedup keepers (window-min election ≡ the
    // aggregate+join) -> suffix truncation -> conversation-atomic
    // pack layout, all over the planted view
    "x_conv_e2e" ->
      s"""WITH $convViewSql,
         |c3 AS (SELECT conv_id, turn, role,
         |         CASE WHEN (conv_id + turn) % 11 = 0 THEN 'thanks!' ELSE text END AS text
         |       FROM c2),
         |k AS (SELECT conv_id, turn, role, text FROM (
         |        SELECT c3.*, min(conv_id * 1000000 + turn) OVER (PARTITION BY role, text) AS kk
         |        FROM c3)
         |      WHERE conv_id * 1000000 + turn = kk),
         |tt AS (SELECT conv_id, turn, CAST(len($toksSql) AS BIGINT) AS turn_tokens FROM k),
         |wn AS (SELECT *,
         |    CAST(sum(turn_tokens) OVER (PARTITION BY conv_id ORDER BY turn DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sfx,
         |    row_number() OVER (PARTITION BY conv_id ORDER BY turn DESC) AS rn
         |  FROM tt),
         |kept AS (SELECT conv_id, turn_tokens FROM wn WHERE rn = 1 OR sfx <= 120),
         |ct AS (SELECT conv_id, CAST(sum(turn_tokens) AS BIGINT) AS token_count FROM kept GROUP BY 1),
         |t AS (SELECT conv_id, conv_id % 8 AS shard, token_count FROM ct),
         |w AS (SELECT *, sum(token_count) OVER (PARTITION BY shard ORDER BY conv_id ROWS UNBOUNDED PRECEDING) - token_count AS st FROM t)
         |SELECT conv_id, CAST(shard AS BIGINT) AS shard, token_count,
         |       CAST(st // 256 AS BIGINT) AS pack_id,
         |       CAST(st % 256 AS BIGINT) AS pack_offset
         |FROM w""".stripMargin,

    // suffix-window truncation: turn-descending running sum per
    // conversation; rn=1 pins the always-kept newest turn
    "x_conv_truncate" ->
      s"""WITH $convViewSql,
         |tt AS (SELECT conv_id, turn, role, CAST(len($toksSql) AS BIGINT) AS turn_tokens FROM c2),
         |wn AS (SELECT *,
         |    CAST(sum(turn_tokens) OVER (PARTITION BY conv_id ORDER BY turn DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sfx,
         |    row_number() OVER (PARTITION BY conv_id ORDER BY turn DESC) AS rn
         |  FROM tt)
         |SELECT conv_id, turn, role, turn_tokens,
         |       (rn = 1 OR sfx <= 120) AS kept
         |FROM wn""".stripMargin,

    // conversation-level overlap: exact turn-set Jaccard over the
    // overlap-prone view, df-capped before pairing
    "x_conv_overlap" ->
      """WITH v AS (
        |  SELECT doc_id // 5 AS conv_id, doc_id % 5 + 1 AS turn,
        |         CASE WHEN (doc_id % 5 + 1) % 2 = 1 THEN 'user' ELSE 'assistant' END AS role,
        |         CASE WHEN doc_id % 7 = 0 THEN 'template ' || (doc_id // 5) % 13 ELSE text END AS text
        |  FROM documents),
        |t0 AS (SELECT DISTINCT conv_id AS conv, role, text FROM v),
        |dfc AS (SELECT role, text FROM (
        |          SELECT role, text, count(DISTINCT conv) AS df FROM t0 GROUP BY 1, 2)
        |        WHERE df <= 64),
        |t AS (SELECT t0.* FROM t0 JOIN dfc USING (role, text)),
        |sz AS (SELECT conv, CAST(count(*) AS BIGINT) AS sz FROM t GROUP BY 1),
        |p AS (SELECT a.conv AS conv_a, b.conv AS conv_b, CAST(count(*) AS BIGINT) AS shared
        |      FROM t a JOIN t b ON a.role = b.role AND a.text = b.text AND a.conv < b.conv
        |      GROUP BY 1, 2)
        |SELECT conv_a, conv_b, shared, sa.sz AS size_a, sb.sz AS size_b,
        |       CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) AS jaccard
        |FROM p JOIN sz sa ON p.conv_a = sa.conv JOIN sz sb ON p.conv_b = sb.conv
        |WHERE CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) >= 0.1""".stripMargin,

    // conversation shape audit: one aggregate per conversation
    "x_conv_stats" ->
      s"""WITH $convViewSql
         |SELECT conv_id,
         |       CAST(count(*) AS BIGINT) AS n_turns,
         |       CAST(count(DISTINCT role) AS BIGINT) AS n_roles,
         |       CAST(sum(len($toksSql)) AS BIGINT) AS total_tokens,
         |       CAST(max(len($toksSql)) AS BIGINT) AS max_turn_tokens,
         |       min(turn) AS first_turn, max(turn) AS last_turn
         |FROM c2 GROUP BY 1""".stripMargin,

    // conversation-preserving packing: conversation token sums feed the
    // same shard-partitioned running-sum layout as x_text_pack — at the
    // conversation level, so no conversation can straddle a pack
    "x_conv_pack" ->
      s"""WITH $convViewSql,
         |ct AS (SELECT conv_id, CAST(sum(len($toksSql)) AS BIGINT) AS token_count FROM c2 GROUP BY 1),
         |t AS (SELECT conv_id, conv_id % 8 AS shard, token_count FROM ct),
         |w AS (SELECT *, sum(token_count) OVER (PARTITION BY shard ORDER BY conv_id ROWS UNBOUNDED PRECEDING) - token_count AS st FROM t)
         |SELECT conv_id, CAST(shard AS BIGINT) AS shard, token_count,
         |       CAST(st // 256 AS BIGINT) AS pack_id,
         |       CAST(st % 256 AS BIGINT) AS pack_offset
         |FROM w""".stripMargin,

    // alternation audit over the perturbed-role conversation view:
    // lag window per conversation + arg-min/max first/last roles
    "x_conv_alternation" ->
      s"""WITH $convViewSql,
         |c3 AS (SELECT conv_id, turn,
         |         CASE WHEN (turn * 13 + conv_id) % 5 < 2 THEN 'user'
         |              ELSE 'assistant' END AS role
         |       FROM c2),
         |l AS (SELECT conv_id, turn, role,
         |        lag(role) OVER (PARTITION BY conv_id ORDER BY turn) AS prev
         |      FROM c3)
         |SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
         |       CAST(coalesce(sum(CASE WHEN role = prev THEN 1 END), 0) AS BIGINT) AS n_violations,
         |       arg_min(role, turn) AS first_role,
         |       arg_max(role, turn) AS last_role
         |FROM l GROUP BY 1""".stripMargin,

    // chat-template render: string_agg ORDER BY turn replays the
    // sorted-struct assembly; chr(10) is the newline in both the
    // segment template and the separator
    "x_conv_render" ->
      s"""WITH $convViewSql,
         |seg AS (SELECT conv_id, turn,
         |          '<|' || coalesce(role, '') || '|>' || chr(10) || coalesce(text, '') AS s
         |        FROM c2)
         |SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
         |       CAST(length(string_agg(s, chr(10) ORDER BY turn)) AS BIGINT) AS rendered_chars,
         |       string_agg(s, chr(10) ORDER BY turn) AS rendered
         |FROM seg GROUP BY 1""".stripMargin,

    // loss-mask spans: running segment-length sum + row_number per
    // conversation; separator length 1 sits BETWEEN segments, so the
    // span covers the segment only (window sum cast back from HUGEINT)
    "x_conv_maskspans" ->
      s"""WITH $convViewSql,
         |seg AS (SELECT conv_id, turn, role,
         |          CAST(length('<|' || coalesce(role, '') || '|>' || chr(10) || coalesce(text, '')) AS BIGINT) AS sl
         |        FROM c2),
         |w AS (SELECT conv_id, turn, role, sl,
         |        CAST(sum(sl) OVER (PARTITION BY conv_id ORDER BY turn ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run,
         |        CAST(row_number() OVER (PARTITION BY conv_id ORDER BY turn) AS BIGINT) AS rn
         |      FROM seg)
         |SELECT conv_id, turn, role,
         |       run - sl + (rn - 1) AS start_char,
         |       run + (rn - 1) AS end_char,
         |       coalesce(role = 'assistant', false) AS masked
         |FROM w""".stripMargin,

    // SFT e2e: dedup keepers -> suffix truncation -> mask spans over
    // the kept turns (the x_conv_e2e CTE chain with the maskspans
    // epilogue instead of packing)
    "x_conv_sft_e2e" ->
      s"""WITH $convViewSql,
         |c3 AS (SELECT conv_id, turn, role,
         |         CASE WHEN (conv_id + turn) % 11 = 0 THEN 'thanks!' ELSE text END AS text
         |       FROM c2),
         |k AS (SELECT conv_id, turn, role, text FROM (
         |        SELECT c3.*, min(conv_id * 1000000 + turn) OVER (PARTITION BY role, text) AS kk
         |        FROM c3)
         |      WHERE conv_id * 1000000 + turn = kk),
         |tt AS (SELECT conv_id, turn, role, text, CAST(len($toksSql) AS BIGINT) AS turn_tokens FROM k),
         |wn AS (SELECT *,
         |    CAST(sum(turn_tokens) OVER (PARTITION BY conv_id ORDER BY turn DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sfx,
         |    row_number() OVER (PARTITION BY conv_id ORDER BY turn DESC) AS rn0
         |  FROM tt),
         |kept AS (SELECT conv_id, turn, role, text FROM wn WHERE rn0 = 1 OR sfx <= 120),
         |seg AS (SELECT conv_id, turn, role,
         |          CAST(length('<|' || coalesce(role, '') || '|>' || chr(10) || coalesce(text, '')) AS BIGINT) AS sl
         |        FROM kept),
         |w AS (SELECT conv_id, turn, role, sl,
         |        CAST(sum(sl) OVER (PARTITION BY conv_id ORDER BY turn ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run,
         |        CAST(row_number() OVER (PARTITION BY conv_id ORDER BY turn) AS BIGINT) AS rn
         |      FROM seg)
         |SELECT conv_id, turn, role,
         |       run - sl + (rn - 1) AS start_char,
         |       run + (rn - 1) AS end_char,
         |       coalesce(role = 'assistant', false) AS masked
         |FROM w""".stripMargin,
  )
}
