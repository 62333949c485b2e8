"""Corpus filtering / rewriting operators: PII redaction and
line-level (C4-style) corpus deduplication.

Both are pretraining-corpus hygiene steps:
- redact_pii: the scrub pass every training-data pipeline runs
  before a corpus ships — emails / phone numbers / IPv4 literals are
  replaced by typed placeholder tokens and counted. Pure JVM regex
  expressions (regexp_count / regexp_replace), evaluated inside
  whole-stage codegen — a narrow map, no shuffle, no Python.
- line_dedup: C4's "discard duplicate lines across the corpus, keep
  the first occurrence" rule (Raffel et al. 2020, §2.2) re-expressed
  so that only 16-byte line hashes + (doc_id, line_no) ids ever
  cross a shuffle; document text crosses exactly ONE exchange (the
  final doc-grain join that rebuilds the surviving text).

The regex patterns are deliberately conservative and dialect-portable
(identical semantics under Java regex and RE2) so the DuckDB oracles
replicate them verbatim.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Dialect-portable PII patterns (Java regex == RE2 semantics here).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,10}"
IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Count and redact emails, phone numbers and IPv4 literals.

    Counts are taken on the ORIGINAL text; redaction applies email →
    phone → ip in that fixed order (the patterns are mutually
    non-overlapping, but a fixed order keeps the rewrite
    deterministic by construction). Adds n_emails / n_phones / n_ips
    and `redacted`. Narrow select — no shuffle, no Python; at 100 TB
    this runs at scan speed inside codegen."""
    t = F.col(text_col)
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
        ),
        IPV4_RE,
        "<IP>",
    )
    return df.withColumns(
        {
            "n_emails": F.regexp_count(t, F.lit(EMAIL_RE)),
            "n_phones": F.regexp_count(t, F.lit(PHONE_RE)),
            "n_ips": F.regexp_count(t, F.lit(IPV4_RE)),
            "redacted": redacted,
        }
    )


def _line_structs(text_col: Column, line_tokens: int) -> Column:
    """Split text into fixed-width token 'lines': array of
    struct(line_no, line). Documents in the testdata are single-line
    word streams, so 'lines' are fixed token spans — the same
    sentence-span surrogate C4 uses where line boundaries are
    unreliable. Pure array expressions; the token array is bound
    through an outer transform over a singleton array so the
    tokenizer subtree is evaluated ONCE per row, not once per line
    (lambda bodies have no CSE — see dedup.shingles /
    similarity.normalize_expr)."""
    toks0 = F.filter(F.split(text_col, " "), lambda x: x != F.lit(""))

    def build(toks: Column) -> Column:
        return F.transform(
            F.sequence(
                F.lit(0),
                F.greatest(
                    F.ceil(F.size(toks) / F.lit(line_tokens)).cast("int")
                    - F.lit(1),
                    F.lit(0),
                ),
            ),
            lambda i: F.struct(
                i.cast("int").alias("line_no"),
                F.array_join(
                    F.slice(toks, i * line_tokens + 1, line_tokens), " "
                ).alias("line"),
            ),
        )

    return F.get(F.transform(F.array(toks0), build), 0)


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    line_tokens: int = 8,
) -> DataFrame:
    """Corpus-wide line dedup, first occurrence wins (C4 §2.2).

    Plan shape (the 100 TB design):
      1. explode lines NARROW: (doc_id, line_no, md5(line)) — the
         line text is hashed in the same projection and dropped
         before anything shuffles.
      2. winner per line hash = MIN(struct(doc_id, line_no)) — one
         hash-partitioned agg whose shuffle rows are 16-byte hashes
         + two ints; map-side partial aggregation collapses
         within-partition duplicates first.
      3. winners regroup to doc grain: sort_array(collect_list(
         line_no)) — again ids only.
      4. ONE doc-grain join of the original table against its kept
         line-number set; the surviving text is rebuilt with array
         expressions (filter by line_no membership, array_join).
    Text therefore crosses exactly one exchange (step 4's join), and
    every dedup decision rides on hashes. A window-over-hash
    formulation would instead shuffle full line text twice.

    Output: doc_id, n_lines, n_kept, new_text (empty string when
    every line of a doc lost its race)."""
    lines = df.select(
        F.col(id_col),
        F.explode(_line_structs(F.col(text_col), line_tokens)).alias("l"),
    ).select(
        id_col,
        F.col("l.line_no").alias("line_no"),
        F.md5(F.col("l.line")).alias("line_fp"),
    )
    winners = (
        lines.groupBy("line_fp")
        .agg(F.min(F.struct(id_col, "line_no")).alias("w"))
        .select(F.col(f"w.{id_col}").alias(id_col), F.col("w.line_no"))
    )
    kept_per_doc = winners.groupBy(id_col).agg(
        F.sort_array(F.collect_list("line_no")).alias("keep")
    )
    structs = _line_structs(F.col(text_col), line_tokens)
    return (
        df.join(kept_per_doc, id_col, "left")
        .select(
            id_col,
            F.size(structs).alias("n_lines"),
            # size(NULL) is -1, not NULL — guard on the array itself
            F.when(F.col("keep").isNotNull(), F.size("keep"))
            .otherwise(F.lit(0))
            .alias("n_kept"),
            F.coalesce(
                F.array_join(
                    F.transform(
                        F.filter(
                            structs,
                            lambda s: F.array_contains("keep", s.line_no),
                        ),
                        lambda s: s.line,
                    ),
                    " ",
                ),
                F.lit(""),
            ).alias("new_text"),
        )
    )
