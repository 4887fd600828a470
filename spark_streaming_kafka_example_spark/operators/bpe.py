"""Distributed BPE-merge tokenizer training.

Byte-pair encoding training (Sennrich et al. 2016) over a distributed
word-frequency table: N fixed merge rounds; each round counts adjacent
symbol pairs (weighted by word frequency), picks the argmax pair with a
deterministic tie-break (count DESC, then lexicographic pair), and applies
the merge map-side. The iterative pattern follows kmeans/PageRank/logreg
(exactly-replayable fixed-round training): every step is deterministic
integer/string arithmetic, so a DuckDB oracle replays the rounds verbatim.

Representation: a word's symbol sequence is kept BOTH as an array column
and as a space-encoded string ``enc`` = symbols joined with two spaces,
one space at each end (' a  b  c '). A merge (a, b) is then ONE
non-overlapping left-to-right regexp_replace of ' a  b ' with ' ab ':
each match consumes one boundary space on each side, leaving single
spaces that reconstitute the two-space gap with the neighbors' remaining
boundary — so consecutive same-pair runs merge greedily left-to-right
(' a  a  a  a ' -> ' aa  aa '), exactly the classic BPE apply order.
A merge can never CREATE a new instance of its own pair (the merged
symbol is strictly longer than either side), so one replace pass per
round is exact, not an approximation. Symbols stay in [a-z]+ (the word
filter), so the built patterns are regex-metacharacter-free in both
Java regex (Spark) and RE2 (DuckDB), whose leftmost non-overlapping
replace semantics agree.

Scale: the word-frequency relation is Zipf-bounded (distinct words, not
corpus tokens); each round is one partial-aggregated pair count (shuffle
on the pair key), one 1-row driver fetch (the argmax — fixed-size by
construction, per the FIXED-K discipline), and one map-side replace. The
per-round localCheckpoint keeps round i+1 from recomputing the whole
merge chain from the first round (the blocked-self-join idiom). The merge table
itself is <= n_rounds rows.

Reference scope: the reference repo (492 LoC of Spark-API Scala main()s)
has no tokenizer training; this extends the LLM-pipeline surface per the
build mandate (SURVEY.md section 7 Phase 3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: adjacent-pair explode over the symbols-array column `s`.
_PAIRS_EXPR = (
    "explode(zip_with(slice(s, 1, size(s)-1), slice(s, 2, size(s)-1),"
    " (x, y) -> struct(x AS a, y AS b))) AS pr"
)


def encode_symbols(word_col: str = "word") -> Column:
    """Initial space-encoding of a word into single-character symbols:
    each char c becomes ' c ', so adjacent chars form the two-space gap
    (' a  b  c '). Java-regex replacement syntax ($1); the DuckDB twin
    uses RE2's \\1 — identical output."""
    return F.regexp_replace(F.col(word_col), "(.)", " $1 ")


def symbols_array(enc_col: str = "enc") -> Column:
    """Decode the space-encoding back to the symbols array (split on the
    two-space gap after trimming the single-space boundaries)."""
    return F.split(F.trim(F.col(enc_col)), "  ")


def merge_pattern(a: str, b: str) -> tuple[str, str]:
    """(pattern, replacement) applying merge (a, b) to an encoded word."""
    return f" {a}  {b} ", f" {a}{b} "


def train_bpe(words: DataFrame, n_rounds: int) -> tuple[list[tuple], DataFrame]:
    """Run ``n_rounds`` BPE merge rounds over a (word, cnt) frequency
    relation. Returns (merge table rows [(rnd, sym_a, sym_b, merged,
    pair_count)], the final encoded words relation with columns word /
    cnt / enc). The only driver-side fetch is the 1-row argmax per round."""
    enc = words.withColumn("enc", encode_symbols("word")).localCheckpoint()
    merges: list[tuple] = []
    for rnd in range(1, n_rounds + 1):
        pairs = (
            enc.select("cnt", symbols_array("enc").alias("s"))
            .select("cnt", F.expr(_PAIRS_EXPR))
            .select("cnt", "pr.a", "pr.b")
            .groupBy("a", "b")
            .agg(F.sum("cnt").alias("pc"))
        )
        top_rows = pairs.orderBy(
            F.desc("pc"), F.asc("a"), F.asc("b")
        ).limit(1).collect()
        if not top_rows:  # corpus exhausted (single-symbol words only)
            break
        top = top_rows[0]
        merges.append(
            (rnd, top["a"], top["b"], top["a"] + top["b"], int(top["pc"]))
        )
        pat, rep = merge_pattern(top["a"], top["b"])
        # Eager checkpoint per round: round i+1's pair count otherwise
        # recomputes the whole replace chain from the first round (O(N^2)
        # work).
        enc = enc.withColumn(
            "enc", F.regexp_replace("enc", pat, rep)
        ).localCheckpoint()
    return merges, enc

