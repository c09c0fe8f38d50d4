"""Static lint for the round-10 quadratic HOF class (round-11 judge
task 6): FAIL on Spark-side expressions that re-introduce the two
shapes the long-document adversarial tier caught and fixed —

R-SUBSTR  dynamic-position ``substring(str, <lambda-var>, ...)`` inside
          a higher-order-function lambda. Spark's ``substring`` walks
          the UTF-8 string to the char offset, O(pos) per call
          (measured ~55 us per deep substring), so a position explode
          (``transform(sequence(...), i -> substring(text, i, W))``)
          is O(len^2) per document. Fixed members: q_doc_chunks,
          q_dedup_substring, q_dedup_explain, q_contamination,
          q_dict_candidates (307.8 s DNF-class on the long-doc tier
          before the refit) — all now on operators.text.strided_spans.

R-COMPUTED  a computed constructor (``split(`` / ``sequence(``) inside
          a lambda BODY. Catalyst re-evaluates the lambda body per
          element, so a split of the document inside the lambda is
          O(tokens^2) per document. Fixed member:
          operators.dedup.shingles (q_dedup_jaccard_prefix did not
          finish a 10-minute long-doc probe before the zip_with
          rewrite).

Scope: SPARK-side code only — ``F.expr("...")`` / ``selectExpr``
string expressions, and Python lambdas passed to the pyspark HOFs
(transform/filter/aggregate/zip_with/exists/forall/reduce). DuckDB
oracle strings (the ``oracle=`` kwarg of ``@query``) are excluded:
they execute vectorized in DuckDB and are not on the Spark hot path.

Known limitation (documented, fixture-covered): a Python ``Column``
computed OUTSIDE a lambda and referenced INSIDE it (the
q_embedding_quantize class) is not statically distinguishable from a
cheap column reference; that class stays covered by the long-doc and
sf1 probe tiers.

Suppression: a line containing ``# lint-scale: ok`` (same line or the
line above the flagged construct) marks an audited exception.

Usage:
  python tools/lint_scale.py              # lint the tree; exit 1 on findings
  python tools/lint_scale.py --selftest   # run the seeded bad/good fixtures
"""

from __future__ import annotations

import ast
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC_ROOT = os.path.join(REPO, "self_healing_data_pipeline_spark")

HOF_NAMES = {
    "transform",
    "filter",
    "aggregate",
    "zip_with",
    "exists",
    "forall",
    "reduce",
}

# SQL-string lambda: capture the parameter list ahead of the arrow.
_LAMBDA_RE = re.compile(r"(?:\(\s*(\w+(?:\s*,\s*\w+)*)\s*\)|(\w+))\s*->")
_COMPUTED_RE = re.compile(r"\b(split|sequence)\s*\(")


def _sql_findings(text: str) -> list[str]:
    """Rule hits inside one Spark SQL expression string."""
    out = []
    for m in _LAMBDA_RE.finditer(text):
        params = [p.strip() for p in (m.group(1) or m.group(2)).split(",")]
        body = text[m.end():]
        # R-SUBSTR: substring(..., <expr containing a lambda param>, ...)
        for sm in re.finditer(r"\bsubstring\s*\(([^()]*)", body):
            args_head = sm.group(1)  # up to the first nested paren
            pos_part = args_head.split(",", 1)[1] if "," in args_head else ""
            if any(re.search(rf"\b{p}\b", pos_part) for p in params):
                out.append(
                    "R-SUBSTR: dynamic-position substring inside a HOF "
                    f"lambda (O(pos) per element): ...{body[:60]!r}"
                )
                break
        # R-COMPUTED: computed constructor inside the lambda body
        cm = _COMPUTED_RE.search(body)
        if cm:
            out.append(
                f"R-COMPUTED: {cm.group(1)}() inside a HOF lambda body "
                f"(re-evaluated per element): ...{body[:60]!r}"
            )
    return out


def _name_of(func: ast.expr) -> str:
    if isinstance(func, ast.Attribute):
        return func.attr
    if isinstance(func, ast.Name):
        return func.id
    return ""


def _py_lambda_findings(call: ast.Call) -> list[str]:
    """Rule hits on Python lambdas passed to a pyspark HOF call."""
    out = []
    for arg in list(call.args) + [k.value for k in call.keywords]:
        if not isinstance(arg, ast.Lambda):
            continue
        params = {a.arg for a in arg.args.args}
        for node in ast.walk(arg.body):
            if not isinstance(node, ast.Call):
                continue
            inner = _name_of(node.func)
            if inner == "substring" and len(node.args) >= 2:
                pos_names = {
                    n.id
                    for n in ast.walk(node.args[1])
                    if isinstance(n, ast.Name)
                }
                if pos_names & params:
                    out.append(
                        "R-SUBSTR: dynamic-position F.substring inside a "
                        "HOF lambda (O(pos) per element)"
                    )
            elif inner in ("split", "sequence"):
                out.append(
                    f"R-COMPUTED: F.{inner} inside a HOF lambda body "
                    "(re-evaluated per element)"
                )
    return out


def _is_oracle_string(node: ast.Constant, oracle_spans: list[tuple[int, int]]) -> bool:
    return any(lo <= node.lineno <= hi for lo, hi in oracle_spans)


def lint_source(src: str, path: str = "<mem>") -> list[str]:
    """Return findings for one Python source file."""
    tree = ast.parse(src)
    lines = src.splitlines()

    def suppressed(lineno: int) -> bool:
        # same line or up to 4 lines above (a comment directly above a
        # wrapped F.expr(...) call may span several lines)
        for ln in range(max(0, lineno - 5), lineno):
            if "# lint-scale: ok" in lines[ln]:
                return True
        return False

    # spans of oracle= kwarg string literals (DuckDB side — out of scope)
    oracle_spans: list[tuple[int, int]] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            for kw in node.keywords:
                if kw.arg == "oracle":
                    oracle_spans.append((kw.value.lineno, kw.value.end_lineno))

    findings: list[str] = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        fname = _name_of(node.func)
        if fname in ("expr", "selectExpr", "sql"):
            for arg in node.args:
                # plain and implicitly-concatenated string literals; for
                # f-strings lint the literal chunks
                chunks: list[str] = []
                if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
                    if _is_oracle_string(arg, oracle_spans):
                        continue
                    chunks = [arg.value]
                elif isinstance(arg, ast.JoinedStr):
                    chunks = [
                        v.value
                        for v in arg.values
                        if isinstance(v, ast.Constant) and isinstance(v.value, str)
                    ]
                text = "".join(chunks)
                if text and not suppressed(arg.lineno):
                    findings.extend(
                        f"{path}:{arg.lineno}: {f}" for f in _sql_findings(text)
                    )
        if fname in HOF_NAMES and not suppressed(node.lineno):
            findings.extend(
                f"{path}:{node.lineno}: {f}" for f in _py_lambda_findings(node)
            )
    return findings


def lint_tree(root: str = SRC_ROOT) -> list[str]:
    findings: list[str] = []
    for dirpath, _dirnames, filenames in os.walk(root):
        for fn in sorted(filenames):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            with open(path) as f:
                src = f.read()
            findings.extend(lint_source(src, os.path.relpath(path, REPO)))
    return findings


# ---------------------------------------------------------------------------
# Seeded regression fixtures: the FIVE fixed round-10 sites, as they
# looked BEFORE their refits. Reverting any fix re-creates one of these
# shapes, and the selftest pins that every shape is flagged.
BAD_FIXTURES = {
    # q_dict_candidates (pre-refit): 16-char grams at
    # stride 8 by dynamic-position substring — 307.8 s DNF-class
    "dict_candidates": (
        'df.select(F.expr("transform(sequence(1, length(nt) - 15, 8),'
        ' i -> substring(nt, i, 16))"))'
    ),
    # q_doc_chunks rejected cells-HOF draft: computed split inside the
    # lambda body (the 167 s form)
    "doc_chunks_hof": (
        'df.select(F.expr("transform(sequence(1, n_chunks),'
        " k -> concat_ws('', slice(split(text, ''), (k-1)*50 + 1, 200)))\"))"
    ),
    # operators.dedup.shingles pre-rewrite: token split computed inside
    # the lambda (q_dedup_jaccard_prefix DNF on the long-doc tier)
    "shingles": (
        "df.select(F.expr(\"transform(sequence(0, k - 1),"
        " i -> slice(split(lower(text), ' '), i + 1, 5))\"))"
    ),
    # q_dedup_substring / q_contamination pre-refit: stride-gram spans
    # via dynamic-position substring over normalized text
    "contamination": (
        'df.select(F.expr("transform(sequence(1, length(norm) - 19, 10),'
        ' p -> substring(norm, p, 20))"))'
    ),
    # the same shape expressed with PYTHON-level HOFs + F.substring
    "python_hof": (
        "df.select(F.transform(F.sequence(F.lit(1), F.col('n')),"
        " lambda i: F.substring(F.col('text'), i, 16)))"
    ),
}

GOOD_FIXTURES = {
    # O(1) array indexing by the lambda var is fine (q_text_bigram_coherence)
    "array_index": (
        "df.select(F.expr(\"transform(sequence(0, size(ts) - 2),"
        " i -> concat(ts[i], ' ', ts[i + 1]))\"))"
    ),
    # split computed OUTSIDE the HOF, lambda touches only its elements
    "outer_split": (
        "df.select(F.split(F.lower('text'), ' ').alias('ts'))"
        ".select(F.expr(\"transform(ts, w -> length(w))\"))"
    ),
    # plain elementwise aggregate lambda (q_multimodal_features)
    "aggregate": (
        "df.select(F.aggregate('feature', F.lit(0.0),"
        " lambda acc, x: acc + x.cast('double') * x.cast('double')))"
    ),
    # suppression comment marks an audited exception
    "suppressed": (
        "# lint-scale: ok (bucket-capped pair generator, see max_bucket)\n"
        'df.select(F.expr("transform(sequence(1, n),'
        ' i -> substring(nt, i, 16))"))'
    ),
}


def selftest() -> int:
    bad = {k: lint_source(v, k) for k, v in BAD_FIXTURES.items()}
    good = {k: lint_source(v, k) for k, v in GOOD_FIXTURES.items()}
    missed = [k for k, f in bad.items() if not f]
    false_pos = {k: f for k, f in good.items() if f}
    if missed or false_pos:
        print(f"selftest FAILED: missed={missed} false_positives={false_pos}")
        return 1
    print(f"selftest OK: {len(bad)} bad fixtures flagged, "
          f"{len(good)} good fixtures clean")
    return 0


def main() -> int:
    if "--selftest" in sys.argv:
        return selftest()
    findings = lint_tree()
    for f in findings:
        print(f)
    if findings:
        print(f"{len(findings)} scale-lint finding(s)")
        return 1
    print("lint_scale: tree clean")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
