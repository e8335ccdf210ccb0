"""Tiny query language → DataFrame plan.

The reference's query lifecycle (SURVEY.md §3.1) parses PQF into a
Z_RPNQuery AST, then ``rpn_search_structure`` builds the rset DAG,
flattening same-operator children into one n-ary node
(/root/reference/index/rpnsearch.c:2567-2772, flatten condition at
:2624-2642). Here: a recursive-descent parser over an infix language

    expr   := and_e (OR and_e)*
    and_e  := prox_e ((AND | NOT) prox_e)*
    prox_e := unary ((NEAR[/n] | ADJ) unary)?
    unary  := '(' expr ')' | '"' word+ '"' | word'*'
            | field':'word | word

NEAR/n = unordered distance ≤ n (default 3), ADJ = ordered adjacent —
the PQF ``@prox`` surface (/root/reference/index/rpnsearch.c
rpn_prox; attrs ordered/relation/distance).

producing an AST whose ``eval`` maps 1:1 onto PostingsOps — the same
DAG shape, declared as DataFrame ops so Catalyst plans it.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from idzebra_spark.operators.boolean import PostingsOps

_TOKEN_RE = re.compile(r'"[^"]*"|\(|\)|[^\s()"]+')


@dataclass
class Node:
    op: str                      # term|prefix|phrase|and|or|not
    value: str | None = None
    children: list["Node"] = field(default_factory=list)

    def flatten(self) -> "Node":
        """Same-op flattening (rpnsearch.c:2624-2642)."""
        if self.op in ("and", "or"):
            kids: list[Node] = []
            for c in (c.flatten() for c in self.children):
                if c.op == self.op:
                    kids.extend(c.children)
                else:
                    kids.append(c)
            return Node(self.op, children=kids)
        return Node(self.op, self.value, [c.flatten() for c in self.children])

    def to_rset_tree(self):
        """Convert to the segment engine's tree format
        (operators.wand._query_kernel) — the rset DAG evaluated over
        ISAMB-leaf block streams instead of a re-tokenized corpus."""
        if self.op == "term":
            return ("term", self.value)
        if self.op == "prefix":
            return ("prefix", self.value)
        if self.op == "phrase":
            return ("phrase", self.value.split())
        if self.op == "not":
            return ("not", self.children[0].to_rset_tree(),
                    self.children[1].to_rset_tree())
        if self.op == "prox":
            rel, dist, ordered = self.value
            return ("prox", [c.value for c in self.children],
                    rel, dist, ordered)
        return (self.op, [c.to_rset_tree() for c in self.children])

    def terms(self) -> list[str]:
        """Positive leaf terms (for ranking)."""
        if self.op == "term":
            return [self.value]
        if self.op == "phrase":
            return self.value.split()
        if self.op == "prefix":
            return []
        if self.op == "prox":
            return [c.value for c in self.children]
        if self.op == "not":
            return self.children[0].terms()
        return [t for c in self.children for t in c.terms()]


class Query:
    def __init__(self, root: Node):
        self.root = root.flatten()

    def eval(self, ops: PostingsOps) -> DataFrame:
        """Evaluate to a distinct doc_id set."""
        return self._eval(self.root, ops)

    def _eval(self, n: Node, ops: PostingsOps) -> DataFrame:
        if n.op == "term":
            return ops.term_docs(n.value)
        if n.op == "prefix":
            return ops.trunc_docs(ops.expand_prefix(n.value))
        if n.op == "phrase":
            return ops.phrase(n.value.split()).select("doc_id")
        if n.op == "prox":
            rel, dist, ordered = n.value
            return ops.prox(n.children[0].value, n.children[1].value,
                            rel, dist, ordered)
        kids = [self._eval(c, ops) for c in n.children]
        if n.op == "and":
            return ops.and_(kids)
        if n.op == "or":
            return ops.or_(kids)
        if n.op == "not":
            return ops.not_(kids[0], kids[1])
        raise ValueError(f"unknown node {n.op}")


class _Parser:
    def __init__(self, tokens: list[str]):
        self.toks = tokens
        self.i = 0

    def peek(self) -> str | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> str:
        if self.i >= len(self.toks):
            raise ValueError("unbalanced parens / unexpected end of query")
        t = self.toks[self.i]
        self.i += 1
        return t

    def parse_expr(self) -> Node:
        left = self.parse_and()
        while self.peek() == "OR":
            self.next()
            left = Node("or", children=[left, self.parse_and()])
        return left

    def parse_and(self) -> Node:
        left = self.parse_prox()
        while self.peek() in ("AND", "NOT"):
            op = self.next()
            right = self.parse_prox()
            left = Node("and" if op == "AND" else "not",
                        children=[left, right])
        return left

    def parse_prox(self) -> Node:
        left = self.parse_unary()
        t = self.peek()
        # exact operator forms only — 'NEARBY'/'NEAREST' are terms
        if t and (t == "ADJ" or t == "NEAR"
                  or re.fullmatch(r"NEAR/\d+", t)):
            op = self.next()
            right = self.parse_unary()
            if left.op != "term" or right.op != "term":
                # a real parse error, not an internal invariant: assert
                # would vanish under `python -O` and read as a crash
                raise ValueError("NEAR/ADJ operands must be plain terms")
            if op == "ADJ":
                # ordered, distance exactly 1 (phrase-adjacent)
                return Node("prox", ("=", 1, True),
                            children=[left, right])
            dist = int(op[5:]) if op.startswith("NEAR/") else 3
            return Node("prox", ("<=", dist, False),
                        children=[left, right])
        return left

    def parse_unary(self) -> Node:
        t = self.next()
        if t == "(":
            e = self.parse_expr()
            if self.next() != ")":
                raise ValueError("unbalanced parens")
            return e
        if t.startswith('"'):
            return Node("phrase", t.strip('"').lower())
        if t.endswith("*"):
            body = t[:-1]
            if ":" in body[1:]:
                # fielded wildcard `field:term*` → composite-key prefix
                from idzebra_spark.operators.boolean import fielded_term

                field, term = body.split(":", 1)
                return Node("prefix", fielded_term(field, term))
            return Node("prefix", body.lower())
        if ":" in t[1:-1]:
            # fielded term `field:term` — Zebra's @attr 1=<field>
            # scoping, mapped to the composite field\x1fterm key
            from idzebra_spark.operators.boolean import fielded_term

            field, term = t.split(":", 1)
            return Node("term", fielded_term(field, term))
        return Node("term", t.lower())


def parse(query: str) -> Query:
    toks = _TOKEN_RE.findall(query)
    p = _Parser(toks)
    root = p.parse_expr()
    if p.peek() is not None:
        raise ValueError(f"trailing tokens at {p.i}: {p.peek()!r}")
    return Query(root)
