"""Chunking strategies (SURVEY.md §2.9 C1-C3).

The reference chunks message batches in Python loops (memfuse
`rag/chunk/message.py:7-60` one-chunk-per-batch; `rag/chunk/character.py:
15-140` fixed 1000-char windows with 100 overlap snapped to sentence/space
boundaries; `rag/chunk/contextual.py:30-263` 800-word greedy groups with
`[role]` formatting). Spark-first:

- C1 message-batch chunk  → groupBy + ordered array_agg + concat (pure SQL).
- C2 fixed windows        → sequence + substring explode (pure SQL);
  the boundary-snapping variant is inherently sequential per document →
  arrow-batched pandas UDF, tested against a Python reference.
- C3 word-budget grouping → greedy stateful scan per session →
  applyInPandas per session group (each session fits a worker by
  construction; sessions parallelize across executors).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CHAR_CHUNK_SIZE = 1000
CHAR_CHUNK_OVERLAP = 100
WORD_BUDGET = 800
MAX_TOKENS_PER_CHUNK = 200
CHUNK_MIN_LEN = 10
CHUNK_MAX_LEN = 10000

# Python str.strip()'s whitespace set, enumerated as LITERAL characters
# so one pattern string means the same thing in Java regex (Spark) and
# RE2 (DuckDB) — both engines' \s is ASCII-only, while the reference's
# str.strip() removes unicode whitespace too (validate_chunks parity).
UNICODE_WHITESPACE = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f "
    "\x85\xa0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007"
    "\u2008\u2009\u200a\u2028\u2029\u202f\u205f\u3000"
)
STRIP_PATTERN = f"^[{UNICODE_WHITESPACE}]+|[{UNICODE_WHITESPACE}]+$"


def token_estimate(content) -> F.Column:
    """The reference's heuristic token estimate ``max(1, len(text)//4)``
    (rag/chunk/integrated.py:158-161) as a JVM-side column — shared by
    the token-budget chunker and chunk validation so both agree with
    the DuckDB oracle twin character-for-character."""
    c = F.col(content) if isinstance(content, str) else content
    return F.greatest(F.lit(1), F.floor(F.length(c) / 4)).cast("int")


def fixed_char_chunks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = CHAR_CHUNK_SIZE,
    overlap: int = CHAR_CHUNK_OVERLAP,
) -> DataFrame:
    """C2 (exact-window variant): windows of `size` chars advancing by
    `size - overlap`. Pure column arithmetic: sequence → substring →
    explode. No shuffle at all — chunking is embarrassingly parallel.
    """
    step = size - overlap
    s = F.col(text_col)
    n_chunks = F.greatest(
        F.ceil((F.length(s) - overlap) / step).cast("int"), F.lit(1)
    )
    starts = F.sequence(F.lit(0), n_chunks - 1)
    chunks = F.transform(starts, lambda i: s.substr(i * step + 1, F.lit(size)))
    out = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(chunks).alias("chunk_index", "chunk_text"),
    )
    return out.withColumn("chunk_len", F.length("chunk_text").cast("long"))


def character_chunks_py(text: str, size: int = CHAR_CHUNK_SIZE, overlap: int = CHAR_CHUNK_OVERLAP) -> list[str]:
    """Boundary-snapping character chunker (reference rag/chunk/
    character.py:15-140): cut at the last sentence end ('. ', '! ', '? ')
    or space before `size`; fall back to a hard cut; next window starts
    `overlap` chars back from the cut."""
    chunks = []
    start = 0
    n = len(text)
    while start < n:
        end = min(start + size, n)
        if end < n:
            window = text[start:end]
            cut = -1
            for sep in (". ", "! ", "? "):
                cut = max(cut, window.rfind(sep) + (len(sep) - 1) if window.rfind(sep) >= 0 else cut)
            if cut <= 0:
                sp = window.rfind(" ")
                cut = sp if sp > 0 else -1
            if cut > 0:
                end = start + cut + 1
        chunks.append(text[start:end])
        if end >= n:
            break
        start = max(end - overlap, start + 1)
    return chunks


def character_chunks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = CHAR_CHUNK_SIZE,
    overlap: int = CHAR_CHUNK_OVERLAP,
) -> DataFrame:
    """C2 (boundary-snapping): per-document sequential logic → Arrow-
    batched mapInPandas; schema (doc_id, chunk_index, chunk_text)."""
    out_schema = f"{id_col} long, chunk_index int, chunk_text string"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                for idx, ch in enumerate(character_chunks_py(r[text_col], size, overlap)):
                    rows.append((r[id_col], idx, ch))
            yield pd.DataFrame(rows, columns=[id_col, "chunk_index", "chunk_text"])

    return docs.select(id_col, text_col).mapInPandas(gen, out_schema)


def contextual_enhance(
    chunks: DataFrame,
    group_col: str = "conversation_id",
    order_col: str = "batch_id",
    content_col: str = "content",
    n_prev: int = 2,
    sep: str = "\n---\n",
    enhancer=None,
) -> DataFrame:
    """M6: prepend the previous `n_prev` chunks of the same group as a
    context window (reference rag/chunk/contextual.py:30-67 assembles
    exactly this window before the LLM call).

    ``enhancer=`` is the M6 LLM-mode plug point, mirroring
    ``m1_from_m0(former=)`` / ``m2_facts_from_m1(extractor=)``: a
    callable ``(contexts, contents) -> enhanced_contents`` — given the
    assembled context window and the chunk content per row, return the
    LLM-paraphrased enhanced content — run as an Arrow-batched
    mapInPandas AFTER the deterministic window assembly (the reference
    calls the LLM with exactly this prompt pair). The default (None)
    keeps the deterministic [CTX]/[CHUNK] concatenation — the
    oracle-checked tier.

    One window (lag) per previous chunk over the existing group
    partitioning — a single shuffle on the group key; no self-join.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(order_col)
    prevs = [F.lag(content_col, i).over(w) for i in range(n_prev, 0, -1)]
    ctx = F.concat_ws(sep, *prevs)  # concat_ws drops NULL lags
    if enhancer is not None:
        from pyspark.sql.types import StringType, StructField, StructType

        staged = chunks.withColumn("context", ctx)
        schema = StructType(
            list(staged.schema.fields)
            + [StructField("enhanced_content", StringType())]
        )

        def enhance(batches):
            for pdf in batches:
                out = pdf.copy()
                out["enhanced_content"] = [
                    str(x)
                    for x in enhancer(
                        list(pdf["context"]), list(pdf[content_col])
                    )
                ]
                yield out

        return staged.mapInPandas(enhance, schema)
    enhanced = F.when(
        ctx != F.lit(""),
        F.concat(F.lit("[CTX]\n"), ctx, F.lit("\n[CHUNK]\n"), F.col(content_col)),
    ).otherwise(F.col(content_col))
    return chunks.withColumn("context", ctx).withColumn(
        "enhanced_content", enhanced
    )


def word_budget_groups_py(counts: list[int], budget: int = WORD_BUDGET) -> list[int]:
    """Greedy grouping: assign each message a group id, starting a new
    group when adding the message would exceed the word budget
    (reference rag/chunk/contextual.py grouping; oversized messages get
    their own group, matching round_buffer.py:116-129)."""
    groups = []
    gid, acc, cur_n = 0, 0, 0
    for c in counts:
        # flush when the CURRENT GROUP IS NON-EMPTY (message-count, not
        # token-count — a zero-token message must not let an oversized
        # follower join its group; found by hypothesis)
        if cur_n > 0 and acc + c > budget:
            gid += 1
            acc, cur_n = 0, 0
        groups.append(gid)
        acc += c
        cur_n += 1
    return groups


def contextual_chunks(
    messages: DataFrame,
    session_col: str = "session_id",
    order_col: str = "sequence_number",
    role_col: str = "role",
    content_col: str = "content",
    id_col: str = "message_id",
    budget: int = WORD_BUDGET,
) -> DataFrame:
    """C3: per-session greedy word-budget grouping then C1-style concat.

    applyInPandas keyed by session: each group is one session's messages
    (bounded by construction); sessions fan out across executors. Output:
    (session_id, group_id, content, m0_raw_ids, word_count).
    """
    from memfuse_spark.functions.text import word_count_cjk

    with_wc = messages.withColumn("__wc", word_count_cjk(content_col))
    out_schema = (
        f"{session_col} string, group_id int, content string, "
        f"m0_raw_ids array<string>, word_count int"
    )

    def per_session(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort")
        gids = word_budget_groups_py(list(pdf["__wc"]), budget)
        pdf = pdf.assign(__gid=gids)
        rows = []
        for gid, grp in pdf.groupby("__gid", sort=True):
            content = "\n\n".join(
                f"[{r[role_col]}]: {r[content_col]}" for _, r in grp.iterrows()
            )
            rows.append(
                (
                    str(grp[session_col].iloc[0]),
                    int(gid),
                    content,
                    [str(x) for x in grp[id_col]],
                    int(grp["__wc"].sum()),
                )
            )
        return pd.DataFrame(
            rows, columns=[session_col, "group_id", "content", "m0_raw_ids", "word_count"]
        )

    return with_wc.groupBy(session_col).applyInPandas(per_session, out_schema)


def token_budget_chunks(
    messages: DataFrame,
    session_col: str = "session_id",
    order_col: str = "sequence_number",
    role_col: str = "role",
    content_col: str = "content",
    id_col: str = "message_id",
    max_tokens: int = MAX_TOKENS_PER_CHUNK,
) -> DataFrame:
    """C-integrated: the reference's fourth chunking strategy —
    token-budget message grouping (rag/chunk/integrated.py:219-319,
    ``TokenBasedChunkingProcessor.create_token_based_chunks``): walk
    each session's messages in order accumulating the heuristic token
    estimate; a message that would push the running total past
    ``max_tokens`` starts a new chunk — unless the current chunk is
    empty, so an oversized message still forms its own chunk
    (integrated.py:264-276). Chunk content is the members joined by a
    single space (integrated.py:301), roles are carried as metadata
    (integrated.py:311-317), ``est_tokens`` is the SUM of per-message
    estimates (integrated.py:305 — not the estimate of the joined
    text).

    The greedy accumulation is the same stateful-scan shape as C3:
    sequential per session, embarrassingly parallel across sessions →
    ``applyInPandas`` keyed by session (each group is one session's
    messages, bounded by construction). The greedy rule is
    :func:`word_budget_groups_py` fed token counts — one audited
    implementation for both budget chunkers.

    Output: (session_id, chunk_index, content, m0_raw_ids, roles,
    n_messages, est_tokens).
    """
    with_tc = messages.withColumn("__tc", token_estimate(content_col))
    out_schema = (
        f"{session_col} string, chunk_index int, content string, "
        f"m0_raw_ids array<string>, roles string, n_messages int, "
        f"est_tokens int"
    )

    def per_session(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort")
        gids = word_budget_groups_py(list(pdf["__tc"]), max_tokens)
        pdf = pdf.assign(__gid=gids)
        rows = []
        for gid, grp in pdf.groupby("__gid", sort=True):
            rows.append(
                (
                    str(grp[session_col].iloc[0]),
                    int(gid),
                    " ".join(str(x) for x in grp[content_col]),
                    [str(x) for x in grp[id_col]],
                    ",".join(str(x) for x in grp[role_col]),
                    int(len(grp)),
                    int(grp["__tc"].sum()),
                )
            )
        return pd.DataFrame(
            rows,
            columns=[
                session_col, "chunk_index", "content", "m0_raw_ids",
                "roles", "n_messages", "est_tokens",
            ],
        )

    return with_tc.groupBy(session_col).applyInPandas(per_session, out_schema)


def validate_chunks(
    chunks: DataFrame,
    content_col: str = "content",
    min_len: int = CHUNK_MIN_LEN,
    max_len: int = CHUNK_MAX_LEN,
) -> DataFrame:
    """Chunk validation filter (rag/chunk/integrated.py:167-207,
    ``IntegratedChunkingProcessor.validate_chunks``): drop chunks whose
    stripped content is empty or shorter than ``min_len``; truncate
    content longer than ``max_len`` to ``max_len`` chars + ``'...'``;
    stamp the quality metadata the reference adds — ``estimated_tokens``
    / ``estimated_words`` / ``content_length`` are computed on the
    POST-truncation content, exactly as the reference mutates
    ``chunk.content`` before reading it back (integrated.py:189-200).

    Pure JVM-side column expressions — a row filter + projection that
    pushes down and stays inside whole-stage codegen; no shuffle.
    """
    c = F.col(content_col)
    # str.strip() in the reference removes ALL whitespace, not just
    # ASCII spaces — F.trim would keep a tab/newline-padded chunk the
    # reference drops (ADVICE r7), and Java/RE2 \s is ASCII-only so a
    # bare \s class would still keep U+00A0/U+2028 padding the
    # reference strips. STRIP_PATTERN enumerates Python's str.strip()
    # whitespace set as literal characters (identical bytes in the
    # DuckDB twin).
    stripped_len = F.length(F.regexp_replace(c, STRIP_PATTERN, ""))
    kept = chunks.filter(c.isNotNull() & (stripped_len >= min_len))
    truncated = kept.withColumn(
        content_col,
        F.when(
            F.length(c) > max_len,
            F.concat(F.substring(c, 1, max_len), F.lit("...")),
        ).otherwise(c),
    )
    return (
        truncated.withColumn("estimated_tokens", token_estimate(content_col))
        .withColumn(
            "estimated_words",
            F.size(
                F.filter(
                    F.split(F.col(content_col), r"\s+"), lambda x: x != ""
                )
            ),
        )
        .withColumn("content_length", F.length(F.col(content_col)).cast("int"))
        .withColumn("quality_validated", F.lit(True))
    )


TOKEN_BUDGET = 256


def sequence_pack(
    docs: DataFrame,
    budget: int = TOKEN_BUDGET,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 32,
) -> DataFrame:
    """(doc_id, n_tokens, start_offset, seq_id) — pack the id-ordered
    token stream into fixed-size training sequences (the concat-then-cut
    packing of GPT-style pretraining): document d starts at the global
    token offset of everything before it, and seq_id = start_offset
    div budget.

    Scale shape: a global running sum via the two-phase prefix-sum
    trick, NOT a single-partition window. Documents are bucketed by
    id range (order-preserving); the intra-bucket cumsum is a window
    partitioned BY BUCKET (parallel across buckets), and the per-bucket
    offsets come from a window over the tiny bucket-totals table
    (`buckets` rows — one executor handles it trivially) broadcast back
    into the join. No stage ever materializes a single-partition pass
    over the corpus; bucket boundaries affect only task placement, never
    the result.
    """
    from pyspark.sql import Window

    from memfuse_spark.functions.text import tokenize

    base = docs.select(
        F.col(id_col).alias("doc_id"), F.size(tokenize(text_col)).cast("long").alias("n_tokens")
    )
    hi = base.agg(F.max("doc_id").alias("mx")).collect()[0]["mx"]
    width = max(1, -(-int(hi + 1) // buckets))
    bucketed = base.withColumn("__bounded_bucket", (F.col("doc_id") / F.lit(width)).cast("int"))

    intra_w = Window.partitionBy("__bounded_bucket").orderBy("doc_id")
    intra = bucketed.withColumn(
        "__intra", F.sum("n_tokens").over(intra_w) - F.col("n_tokens")
    )
    totals_w = Window.orderBy("__bounded_bucket")
    offsets = (
        bucketed.groupBy("__bounded_bucket")
        .agg(F.sum("n_tokens").alias("__t"))
        .withColumn("__off", F.sum("__t").over(totals_w) - F.col("__t"))
        .select("__bounded_bucket", "__off")
    )
    return (
        intra.join(F.broadcast(offsets), "__bounded_bucket")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("__off") + F.col("__intra")).alias("start_offset"),
            F.floor((F.col("__off") + F.col("__intra")) / F.lit(budget)).alias("seq_id"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Content-defined chunking (CDC)
# ---------------------------------------------------------------------------

CDC_MASK = 16          # boundary when bigram hash % 16 == 0 → ~16-token chunks
CDC_MIN_TOKENS = 4     # suppress boundaries that would leave a tiny chunk


def cdc_chunks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    mask: int = CDC_MASK,
    min_tokens: int = CDC_MIN_TOKENS,
) -> DataFrame:
    """(doc_id, chunk_id, n_tokens, chunk_hash) — content-defined chunking:
    a chunk boundary falls BEFORE token i whenever the rolling bigram
    hash md5(token[i-1] + ' ' + token[i]) % mask == 0 and at least
    `min_tokens` tokens have accumulated since the last boundary.

    Why content-defined: fixed-size windows (fixed_char_chunks) shift
    every boundary after an insertion, so near-identical documents share
    almost no chunk hashes; CDC boundaries depend only on local content,
    so an edit perturbs O(1) chunks — the property rsync/LBFS-style
    dedup (Muthitacharoen et al. '01) relies on. Feed chunk_hash into
    exact_dedup for sub-document dedup robust to edits.

    Plan shape: posexplode(tokenize) → lag window per doc → running-sum
    window per doc → one groupBy(doc, chunk). All shuffles are keyed by
    doc_id (documents are independent — perfectly parallel); tokens of
    one document co-locate, which is the same envelope every per-doc
    window here already uses. The min-token guard is applied via a
    two-pass boundary rule (raw boundary flags → running token count
    since last ACCEPTED boundary) expressed as: accept a raw boundary
    only if its token position is >= min_tokens past the previous raw
    boundary's accepted ancestor — approximated one-pass: accept raw
    boundaries whose distance to the PREVIOUS RAW boundary >= min_tokens
    (deterministic on both engines, and identical in SQL).

    No reference analog (closest: fixed windows in
    memfuse rag/chunk/character.py) — net-new dedup capability.
    """
    from pyspark.sql import Window

    from memfuse_spark.functions.text import tokenize

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode_outer(tokenize(text_col)).alias("pos", "tok"),
    ).filter(F.col("tok").isNotNull())

    w = Window.partitionBy("doc_id").orderBy("pos")
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(" ", F.lag("tok").over(w), F.col("tok"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    raw = toks.withColumn(
        "raw_b",
        F.when(F.lag("tok").over(w).isNull(), F.lit(0))
        .when(h % mask == 0, F.lit(1))
        .otherwise(F.lit(0)),
    )
    # distance to previous raw boundary (or doc start)
    bw = Window.partitionBy("doc_id").orderBy("pos")
    prev_raw = F.last(
        F.when(F.col("raw_b") == 1, F.col("pos")), ignorenulls=True
    ).over(bw.rowsBetween(Window.unboundedPreceding, -1))
    accepted = raw.withColumn(
        "b",
        F.when(
            (F.col("raw_b") == 1)
            & (F.col("pos") - F.coalesce(prev_raw, F.lit(0)) >= min_tokens),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    chunked = accepted.withColumn(
        "chunk_id",
        F.sum("b").over(bw.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    return (
        chunked.groupBy("doc_id", "chunk_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                        lambda s: s.tok,
                    ),
                    " ",
                )
            ).alias("chunk_hash"),
        )
        .orderBy("doc_id", "chunk_id")
    )


def cdc_chunks_sql(
    tokenize_sql: str, mask: int = CDC_MASK, min_tokens: int = CDC_MIN_TOKENS
) -> str:
    """DuckDB twin of :func:`cdc_chunks` (same hash, same boundary rule)."""
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({tokenize_sql}) AS tok,
         generate_subscripts({tokenize_sql}, 1) - 1 AS pos
  FROM documents
),
lagged AS (
  SELECT doc_id, pos, tok,
         lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev_tok
  FROM toks
),
rawb AS (
  SELECT doc_id, pos, tok,
         CASE WHEN prev_tok IS NULL THEN 0
              WHEN CAST('0x' || substring(md5(prev_tok || ' ' || tok), 1, 8)
                   AS BIGINT) % {mask} = 0 THEN 1
              ELSE 0 END AS raw_b
  FROM lagged
),
dist AS (
  SELECT doc_id, pos, tok, raw_b,
         last_value(CASE WHEN raw_b = 1 THEN pos END IGNORE NULLS)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_raw
  FROM rawb
),
acc AS (
  SELECT doc_id, pos, tok,
         CASE WHEN raw_b = 1
                   AND pos - coalesce(prev_raw, 0) >= {min_tokens}
              THEN 1 ELSE 0 END AS b
  FROM dist
),
chunked AS (
  SELECT doc_id, pos, tok,
         CAST(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS chunk_id
  FROM acc
)
SELECT doc_id, chunk_id, CAST(count(*) AS BIGINT) AS n_tokens,
       md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
FROM chunked
GROUP BY doc_id, chunk_id
ORDER BY doc_id, chunk_id
"""


SENTENCES_PER_CHUNK = 3


def sentence_chunks(
    docs: DataFrame,
    per_chunk: int = SENTENCES_PER_CHUNK,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, chunk_index, n_sentences, chunk_len) — sentence-boundary
    chunking: split on sentence-final punctuation runs (. ! ?) followed
    by whitespace, then group `per_chunk` consecutive sentences. The
    RAG-standard unit between C2's fixed windows and C3's word budgets.

    Pure column arithmetic (regex split → slice windows → explode) —
    embarrassingly parallel like fixed_char_chunks, no shuffle.
    """
    sents = F.filter(
        F.split(F.col(text_col), r"[.!?]+\s+"), lambda s: F.length(s) > 0
    )
    n_chunks = F.greatest(
        F.ceil(F.size(sents) / F.lit(per_chunk)).cast("int"), F.lit(1)
    )
    windows = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(sents, i * per_chunk + 1, per_chunk),
    )
    out = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(windows).alias("chunk_index", "sent_group"),
    )
    return out.select(
        "doc_id",
        "chunk_index",
        F.size("sent_group").cast("int").alias("n_sentences"),
        F.length(F.concat_ws(" ", "sent_group")).cast("long").alias("chunk_len"),
    )


def sentence_chunks_sql(
    per_chunk: int = SENTENCES_PER_CHUNK, text_expr: str = "text"
) -> str:
    """DuckDB twin of :func:`sentence_chunks`. ``text_expr`` lets the
    caller derive the text column (e.g. the punctuation-injection
    expression the driver query uses to exercise multi-sentence
    windows on the punctuation-free synthetic corpus)."""
    return f"""
WITH sents AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array({text_expr}, '[.!?]+\\s+'),
                     s -> len(s) > 0) AS sl
  FROM documents
),
chunks AS (
  SELECT doc_id, sl,
         CAST(t.i AS INT) AS chunk_index,
         sl[(t.i * {per_chunk} + 1):(t.i * {per_chunk} + {per_chunk})] AS grp
  FROM sents,
       unnest(range(0, greatest(CAST(ceil(len(sl) / {per_chunk}.0) AS INT), 1)))
         AS t(i)
)
SELECT doc_id, chunk_index,
       CAST(len(grp) AS INT) AS n_sentences,
       CAST(len(array_to_string(grp, ' ')) AS BIGINT) AS chunk_len
FROM chunks
ORDER BY doc_id, chunk_index
"""
