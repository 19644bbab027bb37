"""Boolean query trees — AND / OR / NOT retrieval over the index.

The reference serves only flat disjunctive (and quoted-phrase
conjunctive-positional) queries (api/SearchWrapper.java); a boolean
algebra over posting sets is the standard next surface (Lucene's
BooleanQuery is the public model).  Grammar:

    expr   := or
    or     := and ( OR and )*
    and    := unary ( AND unary )*        -- AND is also implicit
    unary  := NOT unary | '(' expr ')' | term

Terms are run through the engine tokenizer at evaluation time; a term
that tokenizes to several index terms (e.g. a special token) is
treated as the conjunction of its parts, matching how a user expects
`NOT foo-bar` to behave.

Evaluation is pure set algebra over (doc) frames — each leaf is the
term's posting doc-set (a term-pruned block scan), AND is a left-semi
join, OR a union+distinct, NOT a left-anti join against the live-doc
universe.  Nothing ever leaves the JVM and every node is a standard
shuffle whose keys are doc ids, so skewed terms cost what their
posting lists cost and no more.  Ranking of the matched set reuses the
BM25 candidates of the tree's POSITIVE leaves (negated terms filter
but never score, the Lucene convention).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nadry_spark.functions.tokenizer import tokenize

_TOKEN_RE = re.compile(r"\(|\)|[^\s()]+")


class BoolNode:
    __slots__ = ("kind", "kids", "term")

    def __init__(self, kind: str, kids=None, term: str | None = None):
        self.kind = kind  # 'term' | 'and' | 'or' | 'not'
        self.kids = kids or []
        self.term = term

    def __repr__(self):  # pragma: no cover - debug aid
        if self.kind == "term":
            return self.term
        if self.kind == "not":
            return f"(NOT {self.kids[0]!r})"
        op = f" {self.kind.upper()} "
        return "(" + op.join(repr(k) for k in self.kids) + ")"


def parse_bool_query(query: str) -> BoolNode:
    """Parse the grammar above; bare adjacency means AND."""
    toks = _TOKEN_RE.findall(query)
    pos = 0

    def peek():
        return toks[pos] if pos < len(toks) else None

    def eat():
        nonlocal pos
        t = toks[pos]
        pos += 1
        return t

    def parse_or():
        kids = [parse_and()]
        while peek() is not None and peek().upper() == "OR":
            eat()
            kids.append(parse_and())
        return kids[0] if len(kids) == 1 else BoolNode("or", kids)

    def parse_and():
        kids = [parse_unary()]
        while True:
            nxt = peek()
            if nxt is None or nxt == ")" or nxt.upper() == "OR":
                break
            if nxt.upper() == "AND":
                eat()
                nxt = peek()
                if nxt is None or nxt == ")":
                    raise ValueError("dangling AND")
            kids.append(parse_unary())
        return kids[0] if len(kids) == 1 else BoolNode("and", kids)

    def parse_unary():
        nxt = peek()
        if nxt is None:
            raise ValueError("empty boolean expression")
        if nxt.upper() == "NOT":
            eat()
            return BoolNode("not", [parse_unary()])
        if nxt == "(":
            eat()
            node = parse_or()
            if peek() != ")":
                raise ValueError("unbalanced parenthesis")
            eat()
            return node
        if nxt == ")":
            raise ValueError("unbalanced parenthesis")
        return BoolNode("term", term=eat())

    node = parse_or()
    if pos != len(toks):
        raise ValueError(f"trailing tokens in boolean query: {toks[pos:]}")
    return node


def positive_terms(node: BoolNode) -> list[str]:
    """Leaf terms NOT under a negation — the scoring set."""
    out: list[str] = []

    def walk(n: BoolNode, neg: bool):
        if n.kind == "term":
            if not neg:
                out.append(n.term)
        elif n.kind == "not":
            walk(n.kids[0], not neg)
        else:
            for k in n.kids:
                walk(k, neg)

    walk(node, False)
    return list(dict.fromkeys(out))


def all_terms(node: BoolNode) -> list[str]:
    out: list[str] = []

    def walk(n: BoolNode):
        if n.kind == "term":
            out.append(n.term)
        else:
            for k in n.kids:
                walk(k)

    walk(node)
    return list(dict.fromkeys(out))


def eval_bool_tree(
    node: BoolNode,
    term_docs: DataFrame,
    universe: DataFrame,
    id_col: str = "doc_id",
    expand=None,
) -> DataFrame:
    """Evaluate the tree to a one-column ``id_col`` doc frame.

    term_docs: (id_col, term) membership rows (need not be distinct).
    universe:  one-column id frame, the NOT complement space.
    expand:    optional str -> list[str] mapping a raw leaf to index
               terms (a multi-term expansion is a conjunction); default
               identity.  A leaf expanding to [] matches nothing.
    """

    def leaf(raw: str) -> DataFrame:
        terms = [raw] if expand is None else expand(raw)
        if not terms:
            return universe.limit(0)
        out = None
        for t in terms:
            part = (
                term_docs.where(F.col("term") == t).select(id_col).distinct()
            )
            out = part if out is None else out.join(part, id_col, "left_semi")
        return out

    def ev(n: BoolNode) -> DataFrame:
        if n.kind == "term":
            return leaf(n.term)
        if n.kind == "not":
            return universe.join(ev(n.kids[0]), id_col, "left_anti")
        parts = [ev(k) for k in n.kids]
        out = parts[0]
        for p in parts[1:]:
            if n.kind == "and":
                out = out.join(p, id_col, "left_semi")
            else:
                out = out.unionByName(p)
        return out.distinct() if n.kind == "or" else out

    return ev(node).select(id_col)


def bool_search(index, query: str, k: int = 10) -> DataFrame:
    """Boolean retrieval over a segment family, ranked by BM25 over
    the tree's positive leaves (negated leaves filter only).  Returns
    (doc_id, url, score) top-k, ties on doc_id.

    Leaves run through the engine tokenizer (stems, stopword drops,
    specials); a leaf whose every token is dropped matches nothing —
    NOT <stopword> therefore matches everything, which is the only
    sensible reading."""
    from nadry_spark.operators.bm25 import bm25_topk_multi

    spark = index.spark
    tree = parse_bool_query(query)
    raw_all = all_terms(tree)
    expansions = {t: tokenize(t) for t in raw_all}
    index_terms = sorted({t for ts in expansions.values() for t in ts})
    empty = spark.createDataFrame([], "doc_id string, url string, score double")
    if not index_terms:
        return empty

    term_docs = index.candidates_for(index_terms).select("term", "doc_id")
    universe = index.doc_meta_df().select("doc_id")
    matched = eval_bool_tree(
        tree, term_docs, universe, expand=lambda t: expansions[t]
    )

    pos_tokens = [t for raw in positive_terms(tree) for t in expansions[raw]]
    if not pos_tokens:
        # pure-negative query: no scoring terms; rank by doc_id
        return (
            index.doc_meta_df()
            .join(matched, "doc_id", "left_semi")
            .select("doc_id", "url", F.lit(0.0).alias("score"))
            .orderBy("doc_id")
            .limit(k)
        )
    # rank ALL matched docs: score with an unbounded-k BM25 pass over
    # the positive terms, then keep the matched subset's top k.  The
    # per-shard heaps inside bm25 cap at `need`, so ask for enough to
    # cover the filter: matched docs missing from the positive top-N
    # can only be pure-OR-branch docs; N = k * 8 is a pragmatic bound
    # and the fallback join fills genuinely unscored matches with 0.
    need = max(k * 8, 64)
    scored = bm25_topk_multi(index, "", k=need, tokens=pos_tokens)
    hit = matched.join(scored, "doc_id", "left").join(
        index.doc_meta_df().select("doc_id", F.col("url").alias("_u")),
        "doc_id",
    )
    return (
        hit.select(
            "doc_id",
            F.coalesce("url", "_u").alias("url"),
            F.coalesce("score", F.lit(0.0)).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
