"""Distributed CoNLL corpus reader/writer.

Reference semantics (``src/utils/conll_parser.py:5-53``): token/label pairs
split on any whitespace run (``re.split(r'\\s+')`` at ``:40``), blank line
closes a sentence, trailing non-terminated sentence still emitted, malformed
lines (≠2 fields) raise ValueError. The labeling-side variant
(``src/data_labeling/conll_parser.py:38``) splits on TAB only — exposed here
as ``sep='tab'``. Lines are stripped of ALL whitespace first (the reference's
``line.strip()``), so a tab-only line is a sentence boundary, not a phantom
token.

The reference builds nested Python lists in driver memory; here sentence
boundaries are reconstructed distributively WITHOUT any per-line global
window (which would serialize the whole corpus through one task):

  pass 1 (stats)  per (file, scan-split): line count + blank-line count —
                  a tiny aggregate turned into per-split line/sentence base
                  offsets (cumulative sums in split order).
  pass 2 (build)  per split: local line number + local blanks-before via
                  a window PARTITIONED by (file, split) — parallel — then
                  global line = line_base + local, sentence key =
                  sent_base + local blanks-before. Sentences spanning a split
                  boundary share a key, so the groupBy merges them.

Splits are identified and ORDERED by ``input_file_block_start()`` — the
split's actual byte offset within its file — so the "ascending split =
ascending byte offset" invariant is explicit and version-robust (it does not
depend on how Spark happens to enumerate or pack splits into partitions, the
way a spark_partition_id ordering would). Within one split, ascending
monotonically_increasing_id is read order = byte order. Pinned by a test
that forces a multi-split read and compares against the single-partition
parse.

The only remaining ordered step is the final dense sentence renumbering —
one window row per SENTENCE (not per line), ordered by (file, sentence key).
At petabyte scale pass dense_ids=False to keep (file, sentence_key) as the
identity and skip that step entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

CONLL_COLUMNS = ["sentence_id", "tokens", "labels"]

_STRIP = r"^[\s ]+|[\s ]+$"


def read_conll(spark: SparkSession, path: str, strict: bool = True,
               sep: str = "whitespace", dense_ids: bool = True) -> DataFrame:
    """path (file, dir or glob) → (sentence_id long, tokens array<string>,
    labels array<string>).

    strict=True reproduces the reference's ValueError on malformed lines
    (raised at action time from the executor, surfaced as a SparkException
    whose message carries the offending line).
    sep: 'whitespace' (utils parser, ``re.split(r'\\s+')``) or 'tab' (the
    labeling-side parser's ``split('\\t')``).
    """
    if sep not in ("whitespace", "tab"):
        raise ValueError(f"sep must be 'whitespace' or 'tab', got {sep!r}")
    split_re = r"\s+" if sep == "whitespace" else r"\t"

    blank = F.when(F.col("value") == "", 1).otherwise(0)
    raw = spark.read.text(path).select(
        F.input_file_name().alias("file"),
        # the split's byte offset in its file: identifies the scan split AND
        # orders splits by actual file position (version-robust, unlike
        # relying on spark_partition_id enumeration order)
        F.input_file_block_start().alias("boff"),
        F.monotonically_increasing_id().alias("mid"),
        F.regexp_replace("value", _STRIP, "").alias("value"),
    )

    # pass 1: per-(file, split) stats → base offsets via a per-file running
    # sum over splits in byte-offset order. Stays distributed (one row per
    # scan split — millions of rows at petabyte scale, never a driver
    # collect); the window partitions by file, so it parallelizes across
    # files.
    stats = (raw.groupBy("file", "boff")
             .agg(F.count("*").alias("n_lines"), F.sum(blank).alias("n_blanks")))
    w_prev = (Window.partitionBy("file").orderBy("boff")
              .rowsBetween(Window.unboundedPreceding, -1))
    off_df = stats.select(
        "file", "boff",
        F.coalesce(F.sum("n_lines").over(w_prev), F.lit(0)).alias("line_base"),
        F.coalesce(F.sum("n_blanks").over(w_prev), F.lit(0)).alias("sent_base"),
    )

    # pass 2: per-split local positions (window partitioned by split —
    # parallel), then global positions via the broadcast offsets
    wloc = Window.partitionBy("file", "boff").orderBy("mid")
    loc = raw.select(
        "file", "boff", "value",
        (F.row_number().over(wloc) - 1).alias("local_line"),
        (F.sum(blank).over(wloc) - blank).alias("blanks_before"),
    )
    lines = (
        loc.join(F.broadcast(off_df), ["file", "boff"])
        .select(
            "file", "value",
            (F.col("line_base") + F.col("local_line")).alias("line_no"),
            (F.col("sent_base") + F.col("blanks_before")).alias("sent_key"),
        )
        .where(F.col("value") != "")
    )

    parts = lines.withColumn("parts", F.split("value", split_re))
    if strict:
        # the error expression lives INSIDE the label projection so column
        # pruning cannot eliminate the validation (an unused assert column
        # would be optimized away)
        label = F.when(F.size("parts") == 2, F.col("parts")[1]).otherwise(
            F.raise_error(F.concat(F.lit("Malformed CoNLL line: '"),
                                   F.col("value"), F.lit("'"))).cast("string"))
    else:
        parts = parts.where(F.size("parts") == 2)
        label = F.col("parts")[1]

    grouped = (
        parts.select("file", "sent_key", "line_no",
                     F.col("parts")[0].alias("token"), label.alias("label"))
        .groupBy("file", "sent_key")
        .agg(F.sort_array(F.collect_list(F.struct("line_no", "token", "label"))).alias("tl"))
        .select(
            "file", "sent_key",
            F.col("tl.token").alias("tokens"),
            F.col("tl.label").alias("labels"),
        )
    )
    if not dense_ids:
        return grouped.select(
            F.xxhash64("file", "sent_key").alias("sentence_id"), "tokens", "labels")
    # dense renumber in (file, line) order: ONE window row per sentence
    w2 = Window.orderBy("file", "sent_key")
    return grouped.select(
        (F.row_number().over(w2) - 1).cast("long").alias("sentence_id"),
        "tokens", "labels")


def conll_token_rows(conll: DataFrame) -> DataFrame:
    """Exploded tabular twin: (sentence_id, pos, token, label)."""
    return conll.select(
        "sentence_id",
        F.posexplode(F.arrays_zip("tokens", "labels")).alias("pos", "tl"),
    ).select("sentence_id", "pos",
             F.col("tl.tokens").alias("token"), F.col("tl.labels").alias("label"))


def write_conll(conll: DataFrame, path: str) -> None:
    """(sentence_id, tokens, labels) → CoNLL text: token<TAB>label lines, blank
    line after every sentence (reference ``write_conll`` :55-74). Sentence
    order is preserved via a range-partitioned sort on sentence_id."""
    body = conll.select(
        "sentence_id",
        F.concat(
            F.array_join(
                F.zip_with("tokens", "labels", lambda t, l: F.concat(t, F.lit("\t"), l)),
                "\n",
            ),
            F.lit("\n"),  # trailing blank separator line
        ).alias("value"),
    ).orderBy("sentence_id").select("value")
    body.write.mode("overwrite").text(path)


def conll_to_csv(conll: DataFrame, path: str | None = None) -> DataFrame:
    """CoNLL frame → (message_text, labels_sequence) — space-joined tokens
    and labels per sentence (reference
    ``src/data_labeling/conll_to_csv_converter.py:13-52``). Returns the
    DataFrame; writes a headered CSV when path is given."""
    out = conll.select(
        F.array_join("tokens", " ").alias("message_text"),
        F.array_join("labels", " ").alias("labels_sequence"),
    )
    if path is not None:
        out.write.mode("overwrite").option("header", True).csv(path)
    return out


def label_vocabulary(conll: DataFrame) -> list[str]:
    """Sorted distinct labels (reference ``ner_trainer.py:104-110``)."""
    rows = (conll.select(F.explode("labels").alias("l")).distinct().collect())
    return sorted(r["l"] for r in rows)


def train_eval_split(conll: DataFrame, frac: float = 0.8, seed: int = 42):
    """Sentence-level random split (reference 80/20, seed 42 —
    ``ner_trainer.py:138``)."""
    return conll.randomSplit([frac, 1.0 - frac], seed=seed)


def write_labeling_file(messages: "DataFrame", path: str, n_messages: int = 50,
                        text_col: str = "content") -> None:
    """First-N messages as a token-per-line file with blank separators — the
    reference's manual-labeling prep (``prepare_data_for_labeling.py:12-79``;
    dead code there: it passes a kwarg that doesn't exist — reimplemented
    working, same intended output shape). The n_messages texts are
    collected and run through the ``kernels.textprep`` chain on the driver."""
    from ..kernels.textprep import preprocess_text, tokenize_text

    rows = messages.orderBy("message_id").limit(n_messages).select(text_col).collect()
    body = [("\n".join(tokenize_text(preprocess_text(r[0]))) + "\n",) for r in rows]
    (messages.sparkSession.createDataFrame(body, "value string")
     .coalesce(1).write.mode("overwrite").text(path))
