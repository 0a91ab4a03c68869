"""lang_table (round 17): the staged-projection language-ID table must be
value-identical to the single-expression ``lang_id`` column — the staging
is a plan-shape optimization (40 tokenize passes → 1), never a semantic
change. Pins the parity on every interesting case class: clear wins for
each language, the 'und' no-hit case, empty/whitespace text, and the
first-wins tie order (en > de > fr > es)."""

from pyspark.sql import functions as F

from qafs_spark.pipeline import text as tx


DOCS = [
    (0, "the quick brown fox jumped over the lazy dog"),   # en
    (1, "der hund ist nicht mit der katze und das haus"),  # de
    (2, "le chat est dans la maison pour les amis"),       # fr
    (3, "el perro es un animal por la casa para todos"),   # es
    (4, "zzz qqq xxx"),                                    # no hits -> und
    (5, ""),                                               # empty -> und
    (6, "   "),                                            # blank -> und
    # 'la' is a stopword of fr AND es; one hit each -> tie resolves to
    # the earlier language in LANG_STOPWORDS order that WINS strictly —
    # equal scores keep the earlier candidate (fr before es)
    (7, "la zzz"),
    # 'es' (es-stopword) + 'est' (fr) + 'der' (de): three one-vote
    # languages, en at zero — earlier language wins on ties
    (8, "der est es"),
    (9, None),                                             # null text
]


def test_lang_table_matches_lang_id_expression(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    via_expr = {
        r["doc_id"]: r["g"]
        for r in df.select(
            "doc_id", tx.lang_id(F.col("text")).alias("g")
        ).collect()
    }
    via_table = {
        r["id"]: r["lang_guess"]
        for r in tx.lang_table(df, "text", "doc_id").collect()
    }
    assert via_table == via_expr
    # and the case classes land where the docstring promises
    assert via_table[0] == "en"
    assert via_table[4] == "und"
    assert via_table[5] == "und"
    assert via_table[6] == "und"


def test_lang_table_single_tokenize_in_plan(spark):
    """The point of the staging: one tokenize (split) in the physical
    plan, vs 40 for the single-expression form. An upper bound, not an
    exact count: how a plan renders varies across Spark versions."""
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    plan = tx.lang_table(df, "text", "doc_id")._jdf.queryExecution(
    ).executedPlan().toString()
    assert plan.count("split(") <= 2
