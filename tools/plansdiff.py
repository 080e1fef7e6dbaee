#!/usr/bin/env python3
"""Shape-diff two PLANS.md dumps (or raw `runMain graft.Explain` logs).

Usage: plansdiff.py <old_plans> <new_plans> [--tree] [--show <query>]
       plansdiff.py --selftest   # pin the normalization + exit-code contract

Splits each file on the `========== <name> ==========` markers, normalizes
away everything that varies run-to-run without being a plan-shape change —
expression ids (#123L), node numbers ((12) at detail-line starts and as the
tree-line suffix, NOT arbitrary parenthesized integer literals), plan_id=,
object addresses (@7f3a...), synthetic lambda class names, file: locations,
RDD call-site line numbers (`at Dedup.scala:459`; the file name stays),
per-process scratch roots, and Spark log lines — then reports which queries'
plans genuinely changed. This is the mechanical backing for the PLANS.md
header claim "shape-diff vs the previous regen: exactly N intended changes";
before r13 that sweep was re-derived by hand each round.

Two grains:
- default: full normalized text. Catches everything, including detail-line
  changes (PushedFilters, ReadSchema, Arguments) — but expression-id
  RENUMBERING (any upstream Queries.scala edit shifts ids for every later
  query) can permute attribute ORDER inside Expand/Window/Aggregate
  argument lists with zero structural change, so expect a handful of
  attribute-permutation-only rows on any regen whose source changed. Since
  r22 a full-grain CHANGED row whose tree grain is unchanged and whose diff
  vanishes when bracket-list items are sorted is auto-ANNOTATED
  "[known-benign: attribute-order permutation, tree unchanged]" (the
  documented b53 Expand class) unless a differing line is order-significant
  (sort orders, join keys, hashpartitioning args — see
  order_significant_diff); annotation only — exit code unchanged.
- --tree: compares only each plan's operator-tree section (the lines
  before the first `(n) NodeName` detail block), with each `Exchange` tree
  line carrying the shuffle origin from its detail block
  (REPARTITION_BY_NUM vs REPARTITION_BY_COL decides whether AQE may
  coalesce it). Immune to attribute-order permutation; a --tree diff IS a
  structural plan change. Read the pair:
  --tree names the real changes, the default run's extras minus the --tree
  set are the permutation-only rows to spot-check with --show.

At the tree grain, a changed plan on the documented run-level-AQE list
(KNOWN_BUILD_FLIP, today just c12_semdedup — r18 proved two same-tree
regens land on opposite build sides) whose diff is exactly a build-side
swap — same operators in the same order at the same plumbing-adjusted
nesting depths, differing only in build side, broadcast placement, AQE
stage ids, and Statistics values (see buildside_canonical) — is ANNOTATED
"[known-benign: run-level AQE build-side flip]" on its CHANGED line. Annotation only: the line still prints and the exit code is
unchanged — a diff that touches any other plan, or changes one of these
plans beyond the swap, carries no annotation and must be explained.

Exit code (clamped — shell exit codes wrap mod 256, so counts live on
stdout only): bit 0 = any shared plan changed shape, bit 1 = coverage
drift (the two files don't cover the same query set). 0 = identical
inventories, 1 = shape changes only, 2 = drift only, 3 = both.
"""
import argparse
import re
import sys

# A detail block opens with `(n) NodeName` (optionally indented); a tree
# line carries its node number as a trailing ` (n)`. Anchoring to those two
# positions keeps a GENUINE parenthesized integer literal inside an
# expression (a changed limit/bucket count rendered as `(5)` -> `(10)`)
# visible to the diff instead of normalizing it away.
_DETAIL_NODE = re.compile(r"^(\s*)\(\d+\)( )")
_TREE_SUFFIX = re.compile(r" \(\d+\)$")


def normalize(line: str, numeric_args_op: bool = False) -> str:
    line = re.sub(r"#\d+L?", "", line)
    line = _DETAIL_NODE.sub(r"\1(N)\2", line)
    line = _TREE_SUFFIX.sub(" (N)", line)
    line = re.sub(r"\boperator id(:| =) \d+", r"operator id\1 N", line)
    line = re.sub(r"\bSubquery:\d+\b", "Subquery:N", line)
    line = re.sub(r"plan_id=\d+", "", line)
    line = re.sub(r"RDD\[\d+\]", "RDD[N]", line)  # per-session RDD counter
    # an RDD's call site (`createDataFrame at Dedup.scala:459`) moves with
    # any edit above it in the source file; the file name stays visible
    line = re.sub(r"\b(at \w+\.scala):\d+", r"\1:N", line)
    # whole-stage-codegen stage ids renumber with AQE stage scheduling
    # order; the WholeStageCodegen detail block's sole argument IS that id,
    # and a *QueryStage block's sole argument is its AQE stage id. Those are
    # the ONLY blocks whose bare-number Arguments line is run-to-run noise —
    # a bare-limit block (CollectLimit/GlobalLimit) renders the same shape
    # and its number is a GENUINE literal that must stay diff-visible, so
    # the rewrite is gated on the enclosing block's operator (r14 ADVICE).
    line = re.sub(r"codegen id : \d+", "codegen id : N", line)
    if numeric_args_op:
        line = re.sub(r"^Arguments: \d+$", "Arguments: N", line)
    line = re.sub(r"@[0-9a-f]{6,}", "@X", line)
    line = re.sub(r"Lambda\$\d+/0x[0-9a-f]+", "Lambda$X", line)
    line = re.sub(r"file:[^ ,\]]*", "file:X", line)
    line = re.sub(r"graft_scratch_root_\d+", "graft_scratch_root", line)
    line = re.sub(r"/tmp/[a-zA-Z0-9_./-]*", "/tmp/X", line)
    return line


# Queries whose AQE build-side flip is PROVEN run-level nondeterminism:
# both BroadcastHashJoin inputs are broadcastable and AQE's runtime stats
# pick a side per run (r18, commit b0d11fb: two Explain regens on the
# IDENTICAL tree landed on opposite build sides, 173/174 other plans
# byte-identical). Membership is the documentation bar — do NOT add a
# query here without the same two-regen proof.
KNOWN_BUILD_FLIP = {"c12_semdedup"}

_TREE_PREFIX = re.compile(r"^[\s:+\-]+")  # tree-drawing chars, NOT the codegen `*`


def _sort_bracket_items(s: str) -> str:
    """Canonicalize attribute ORDER: inside every balanced [...] group, sort
    the top-level comma-separated items (each recursively canonicalized
    first). This is the documented expression-id-renumbering permutation
    class — RewriteDistinctAggregates can emit Expand branch/attribute lists
    in id order, so ANY upstream source edit can permute them with zero
    structural change (b53_profile_xxhash64 is the standing example, r20).
    Used ONLY to ANNOTATE a full-grain-changed plan whose tree grain is
    unchanged and whose diff vanishes under this form — never to suppress
    the CHANGED line or alter the exit code."""
    out = []
    i = 0
    while i < len(s):
        c = s[i]
        if c == "[":
            depth, j = 1, i + 1
            while j < len(s) and depth:
                if s[j] == "[":
                    depth += 1
                elif s[j] == "]":
                    depth -= 1
                j += 1
            if depth:  # unbalanced bracket: leave the tail untouched
                out.append(s[i:])
                return "".join(out)
            inner = _sort_bracket_items(s[i + 1:j - 1])
            items, d, start = [], 0, 0
            for k, ch in enumerate(inner):
                if ch in "[(":
                    d += 1
                elif ch in "])":
                    d -= 1
                elif ch == "," and d == 0:
                    items.append(inner[start:k].strip())
                    start = k + 1
            items.append(inner[start:].strip())
            out.append("[" + ", ".join(sorted(items)) + "]")
            i = j
        else:
            out.append(c)
            i += 1
    return "".join(out)


def permutation_canonical(lines: list) -> list:
    return [_sort_bracket_items(l) for l in lines]


# Bracket lists whose item ORDER is semantics, not renumbering noise: sort
# orders (Sort, Window ORDER BY, TakeOrderedAndProject — every item carries
# ASC/DESC), join keys (the i-th left key pairs with the i-th right key),
# and hashpartitioning args (they fix which partition a row lands in).
_ORDER_SIGNIFICANT_OPS = {"Sort", "Window", "TakeOrderedAndProject"}
_ORDER_SIGNIFICANT_LINE = re.compile(
    r"\b(ASC|DESC)\b|hashpartitioning\(|^(Left|Right) keys\b")
_NORMALIZED_DETAIL = re.compile(r"^\s*\(N\) (\S+)")


def order_significant_diff(old: list, new: list) -> bool:
    """True when a line that differs between two equal-length normalized
    plans carries an order-significant list — then a bracket-item sort
    hides a genuine change and the permutation annotation must not apply."""
    op = None
    for o, n in zip(old, new):
        m = _NORMALIZED_DETAIL.match(o)
        if m:
            op = m.group(1)
        if o != n and (_ORDER_SIGNIFICANT_LINE.search(o)
                       or (op in _ORDER_SIGNIFICANT_OPS and o.startswith("Arguments:"))):
            return True
    return False


def buildside_canonical(lines: list) -> list:
    """Tree-grain canonical form modulo AQE's build-side choice. A build-side
    flip moves the two broadcast-plumbing lines (BroadcastQueryStage +
    BroadcastExchange) from one join child to the other, flips the
    BuildLeft/BuildRight token, re-indents the newly-wrapped subtree (each
    plumbing line adds one nesting level above it), and renumbers downstream
    AQE stage ids — so: drop the plumbing lines, keep each remaining line as
    (depth, text) where depth is the tree-prefix level MINUS the number of
    dropped plumbing ancestors (the codegen `*` stays in the text), neutralize
    the Build token, and blank stage ids/Statistics VALUES. Anything else —
    an operator added, removed, reordered, or RE-NESTED (same line order,
    different depth; r19 ADVICE) — survives and the forms differ. What the
    annotation certifies is therefore: identical operators in identical order
    at identical plumbing-adjusted depths, differing only in build side,
    broadcast placement, stage ids, and Statistics values. Used ONLY to
    ANNOTATE a changed plan on KNOWN_BUILD_FLIP — never to suppress it."""
    out = []
    dropped = []  # raw depths of dropped plumbing lines still on the ancestor path
    for l in lines:
        m = _TREE_PREFIX.match(l)
        prefix = m.group(0) if m else ""
        # Spark's formatted tree renders one 3-char unit per level
        # ("+- ", ":- ", ":  ", "   ")
        depth = len(prefix) // 3
        t = l[len(prefix):]
        while dropped and depth <= dropped[-1]:
            dropped.pop()
        # the stage id is raw (`(133), Statistics(...)`) when mid-line, but
        # already `(N)` when the line ended with it (blocks() normalized the
        # tree suffix) — match both so a Statistics-less stage line can't
        # slip past the plumbing filter and fail the annotation spuriously
        if re.match(r"^BroadcastQueryStage \((\d+|N)\)", t) or t == "BroadcastExchange (N)":
            dropped.append(depth)
            continue
        t = re.sub(r"\bBuild(Left|Right)\b", "BuildX", t)
        t = re.sub(r"QueryStage \(\d+\)", "QueryStage (N)", t)
        t = re.sub(r"Statistics\([^)]*\)", "Statistics(X)", t)
        if t:
            out.append(f"{depth - len(dropped)}|{t}")
    return out


# An Exchange's Arguments line ends with its shuffle origin
# (`hashpartitioning(x, 4), REPARTITION_BY_NUM, [plan_id=7]`); the origin
# decides whether AQE may coalesce the exchange, so it is plan shape.
_EXCHANGE_ORIGIN = re.compile(r", ([A-Z][A-Z_]+)(?:, \[plan_id=\d+\])?$")
_TREE_EXCHANGE = re.compile(r"\bExchange \((\d+)\)$")


def with_exchange_origins(lines: list) -> list:
    """One query's raw lines with each `Exchange (n)` tree line carrying the
    shuffle origin of its `(n) Exchange` detail block, so the tree grain,
    which drops detail blocks, still sees an origin-only change (e.g.
    REPARTITION_BY_COL -> REPARTITION_BY_NUM, which AQE stops coalescing)."""
    origins, node = {}, None
    for l in lines:
        d = re.match(r"^\((\d+)\) (\S+)", l)
        if d:
            node = d.group(1) if d.group(2) == "Exchange" else None
        elif node and l.startswith("Arguments:"):
            m = _EXCHANGE_ORIGIN.search(l)
            if m:
                origins[node] = m.group(1)
    return [_TREE_EXCHANGE.sub(
                lambda m: f"Exchange {origins[m.group(1)]} ({m.group(1)})"
                if m.group(1) in origins else m.group(0), l)
            for l in lines]


def blocks(path: str, tree_only: bool = False) -> dict:
    cur, raw = None, {}
    marker = re.compile(r"^========== ([a-z0-9_]+) ==========$")
    # timestamped Spark log lines, the sbt run footer, and the
    # indentation-only `file:/...` continuation of multi-line WARNs
    # (e.g. DataSource's "All paths were ignored:") — none are plan text
    loglike = re.compile(
        r"^\d{2}/\d{2}/\d{2} \d{2}:\d{2}:\d{2} (WARN|INFO|ERROR) "
        r"|^\[success\] Total time:"
        r"|^\s+file:/\S*$")
    for line in open(path):
        line = line.removeprefix("[info] ").rstrip("\n")
        m = marker.match(line)
        if m:
            cur = m.group(1)
            raw[cur] = []
        elif cur is not None and not loglike.match(line):
            raw[cur].append(line)
    detail_start = re.compile(r"^\(\d+\) ([A-Z]\S*)")
    out = {}
    for q, lines in raw.items():
        out[q], in_detail, cur_op = [], False, None
        for line in with_exchange_origins(lines):
            d = detail_start.match(line)
            if d:
                in_detail, cur_op = True, d.group(1)
            if not (tree_only and in_detail):
                numeric_args_op = cur_op is not None and (
                    cur_op == "WholeStageCodegen" or cur_op.endswith("QueryStage"))
                out[q].append(normalize(line, numeric_args_op))
    return out


def selftest() -> int:
    """Pin the normalization contract (the selfcheck.py --selftest pattern):
    each run-to-run noise class must diff INVISIBLE, a genuine plan-detail
    change must diff VISIBLE, and the exit code must be the clamped
    bit0=changed / bit1=drift form."""
    import tempfile, os
    base = """========== q1 ==========
* HashAggregate (5)
+- Exchange (4)

(2) ShuffleQueryStage
Output [2]: [u, v]
Arguments: 3
(4) Exchange [codegen id : 2]
Arguments: hashpartitioning(x#12L, 32), ENSURE_REQUIREMENTS, [plan_id=44]
(5) Scan ExistingRDD [codegen id : 3]
Arguments: [u, v], MapPartitionsRDD[1923] at createDataFrame at D.scala:1, ExistingRDD, UnknownPartitioning(0)
Functions: [approx(x, (5))]
(9) CollectLimit
Arguments: 25
========== q2 ==========
* Scan (1)
"""
    noise = (base.replace("(5)", "(7)").replace("(4)", "(6)")
             .replace("#12L", "#99L").replace("RDD[1923]", "RDD[2001]")
             .replace("codegen id : 2", "codegen id : 9")
             .replace("approx(x, (7))", "approx(x, (5))")
             .replace("Arguments: 3", "Arguments: 8"))  # AQE stage id renumber
    literal = base.replace("approx(x, (5))", "approx(x, (10))")
    # a bare-limit block renders `Arguments: <limit>` — the same shape as a
    # QueryStage's stage id, but a GENUINE literal (r14 ADVICE case)
    limit = base.replace("Arguments: 25", "Arguments: 50")
    drift = base.split("========== q2")[0]
    # an edit above an RDD's creation site moves only its line number
    callsite_line = base.replace("at D.scala:1,", "at D.scala:42,")
    callsite_file = base.replace("at D.scala:1,", "at E.scala:1,")
    cases = [  # (other_content, expected_exit, label)
        (base, 0, "identity"),
        (noise, 0, "renumber/noise-invisible (incl. QueryStage stage id)"),
        (literal, 1, "literal-visible"),
        (limit, 1, "bare-limit-Arguments-visible"),
        (drift, 2, "drift-bit"),
        (callsite_line, 0, "RDD call-site line-invisible"),
        (callsite_file, 1, "RDD call-site file-visible"),
    ]
    # an Exchange's shuffle origin decides whether AQE may coalesce it: an
    # origin-only change is plan shape at BOTH grains (the tree grain reads
    # it off the detail block); its plan_id is per-session noise at both
    origin = base.replace("ENSURE_REQUIREMENTS", "REPARTITION_BY_NUM")
    plan_id = base.replace("plan_id=44", "plan_id=45")
    cases = [(content, want, label, []) for content, want, label in cases] + [
        (content, want, f"{label} ({grain[0] if grain else 'full'} grain)", grain)
        for content, want, label in [(origin, 1, "Exchange origin-visible"),
                                     (plan_id, 0, "Exchange plan_id-invisible")]
        for grain in ([], ["--tree"])]
    failures = 0
    with tempfile.TemporaryDirectory() as d:
        a = os.path.join(d, "a.txt")
        open(a, "w").write(base)
        for i, (content, want, label, grain) in enumerate(cases):
            b = os.path.join(d, f"b{i}.txt")
            open(b, "w").write(content)
            import io, contextlib
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                got = main([a, b] + grain)
            ok = got == want
            failures += not ok
            print(f"{'OK  ' if ok else 'FAIL'} {label}: exit {got} (want {want})")

        # tree-grain annotation of the documented run-level-AQE class (r19):
        # a diff that is EXACTLY a build-side swap on a KNOWN_BUILD_FLIP
        # query gets the annotation; the exit code stays 1 (never
        # suppressed); the same swap on an unlisted query, or a c12 diff
        # that goes beyond the swap, carries NO annotation
        note = "[known-benign: run-level AQE build-side flip]"

        def flip_tree(q, build, wrap_left, op="Filter"):
            wrapped = (f"   :- BroadcastQueryStage (7), Statistics(sizeInBytes=1.1 MiB, rowCount=10)\n"
                       f"   :  +- BroadcastExchange (2)\n"
                       f"   :     +- * {op} (1)\n"
                       f"   :        +- Scan parquet  (0)\n"
                       f"   +- * Filter (1)\n"
                       f"      +- Scan parquet  (0)\n") if wrap_left else (
                       f"   :- * {op} (1)\n"
                       f"   :  +- Scan parquet  (0)\n"
                       f"   +- BroadcastQueryStage (3), Statistics(sizeInBytes=1.0 MiB, rowCount=10)\n"
                       f"      +- BroadcastExchange (2)\n"
                       f"         +- * Filter (1)\n"
                       f"            +- Scan parquet  (0)\n")
            return (f"========== {q} ==========\n"
                    f"* Project (5)\n"
                    f"+- * BroadcastHashJoin Inner {build} (4)\n" + wrapped)

        tree_cases = [  # (old_text, new_text, want_exit, want_note, label)
            (flip_tree("c12_semdedup", "BuildRight", False),
             flip_tree("c12_semdedup", "BuildLeft", True),
             1, True, "c12 exact build-side swap -> annotated, exit unchanged"),
            (flip_tree("q_other", "BuildRight", False),
             flip_tree("q_other", "BuildLeft", True),
             1, False, "same swap on an unlisted query -> no annotation"),
            (flip_tree("c12_semdedup", "BuildRight", False),
             flip_tree("c12_semdedup", "BuildLeft", True, op="Sort"),
             1, False, "c12 diff beyond the swap -> no annotation"),
            (flip_tree("c12_semdedup", "BuildRight", False),
             flip_tree("c12_semdedup", "BuildLeft", True)
               .replace(" (7), Statistics(sizeInBytes=1.1 MiB, rowCount=10)", " (7)"),
             1, True, "swap with a Statistics-less stage line -> still annotated"),
            (flip_tree("c12_semdedup", "BuildRight", False),
             flip_tree("c12_semdedup", "BuildRight", False),
             0, False, "c12 identical -> not even CHANGED"),
            # r19 ADVICE: a re-nesting with UNCHANGED line order used to
            # canonicalize equal (the tree prefix was stripped outright);
            # depth is now part of the canonical form, so this must NOT be
            # annotated
            (flip_tree("c12_semdedup", "BuildRight", False),
             flip_tree("c12_semdedup", "BuildRight", False)
               .replace("            +- Scan parquet  (0)\n",
                        "               +- Scan parquet  (0)\n"),
             1, False, "c12 re-nesting-only (same line order) -> no annotation"),
        ]
        import io, contextlib
        for i, (old_t, new_t, want, want_note, label) in enumerate(tree_cases):
            fa = os.path.join(d, f"ta{i}.txt")
            fb = os.path.join(d, f"tb{i}.txt")
            open(fa, "w").write(old_t)
            open(fb, "w").write(new_t)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                got = main([fa, fb, "--tree"])
            has_note = note in buf.getvalue()
            ok = got == want and has_note == want_note
            failures += not ok
            print(f"{'OK  ' if ok else 'FAIL'} {label}: exit {got} (want {want}), "
                  f"note={has_note} (want {want_note})")

        # full-grain annotation of the documented attribute-order permutation
        # class (r22, the b53 follow-through): a detail-line diff that
        # vanishes when bracket-list items are sorted, on a tree-unchanged
        # plan, gets the annotation; exit stays 1; a genuine item change or
        # a tree change carries NO annotation
        pnote = "[known-benign: attribute-order permutation, tree unchanged]"
        permuted = base.replace("Output [2]: [u, v]", "Output [2]: [v, u]")
        nested = base.replace("Output [2]: [u, v]",
                              "Arguments: [[u, v, 1], [u, null, 2]], [u, v]")
        nested_perm = base.replace("Output [2]: [u, v]",
                                   "Arguments: [[u, null, 2], [v, u, 1]], [v, u]")
        genuine = base.replace("Output [2]: [u, v]", "Output [2]: [u, w]")
        tree_and_perm = permuted.replace("+- Exchange (4)", "+- Sort (4)")
        # swapped Sort keys sort to the same canonical form, but key order
        # is the sort's semantics: a genuine change, never annotated
        sorted_ = base.replace("Arguments: 25", "Arguments: 25\n(10) Sort\n"
                               "Arguments: [u ASC NULLS FIRST, v ASC NULLS FIRST], false, 0")
        sort_swapped = sorted_.replace("[u ASC NULLS FIRST, v ASC NULLS FIRST]",
                                       "[v ASC NULLS FIRST, u ASC NULLS FIRST]")
        perm_cases = [
            (base, permuted, 1, True, "attribute permutation -> annotated, exit 1"),
            (nested, nested_perm, 1, True, "nested Expand-branch permutation -> annotated"),
            (base, genuine, 1, False, "genuine item change -> no annotation"),
            (permuted, tree_and_perm, 1, False, "permutation + tree change -> no annotation"),
            (sorted_, sort_swapped, 1, False, "swapped Sort keys, tree unchanged -> no annotation"),
        ]
        for i, (old_t, new_t, want, want_note, label) in enumerate(perm_cases):
            fa = os.path.join(d, f"pa{i}.txt")
            fb = os.path.join(d, f"pb{i}.txt")
            open(fa, "w").write(old_t)
            open(fb, "w").write(new_t)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                got = main([fa, fb])
            has_note = pnote in buf.getvalue()
            ok = got == want and has_note == want_note
            failures += not ok
            print(f"{'OK  ' if ok else 'FAIL'} {label}: exit {got} (want {want}), "
                  f"note={has_note} (want {want_note})")
    print(f"\nselftest: {'PASS' if not failures else f'{failures} FAILURES'}")
    return failures


def main(argv) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("old_plans")
    p.add_argument("new_plans")
    p.add_argument("--tree", action="store_true",
                   help="compare operator-tree sections only")
    p.add_argument("--show", metavar="QUERY",
                   help="print a unified diff for one changed query")
    a = p.parse_args(argv)
    old = blocks(a.old_plans, a.tree)
    new = blocks(a.new_plans, a.tree)
    only_old, only_new = sorted(set(old) - set(new)), sorted(set(new) - set(old))
    drift = bool(only_old or only_new)
    if drift:
        print(f"COVERAGE DRIFT: only-old={only_old} only-new={only_new}")
    changed = sorted(k for k in set(old) & set(new) if old[k] != new[k])
    # full-grain permutation annotation needs the tree grain for its
    # "structurally unchanged" half — load it lazily, once
    old_tree = new_tree = None
    if changed and not a.tree:
        old_tree = blocks(a.old_plans, True)
        new_tree = blocks(a.new_plans, True)
    for k in changed:
        note = ""
        if (a.tree and k in KNOWN_BUILD_FLIP
                and buildside_canonical(old[k]) == buildside_canonical(new[k])):
            note = " [known-benign: run-level AQE build-side flip]"
        elif (not a.tree
                and old_tree.get(k) == new_tree.get(k)
                and permutation_canonical(old[k]) == permutation_canonical(new[k])
                and not order_significant_diff(old[k], new[k])):
            note = " [known-benign: attribute-order permutation, tree unchanged]"
        print(f"CHANGED {k} ({len(old[k])} -> {len(new[k])} lines){note}")
    if a.show:
        if a.show in changed:
            import difflib
            sys.stdout.writelines(
                l + "\n" for l in difflib.unified_diff(
                    old[a.show], new[a.show], lineterm=""))
        else:
            print(f"--show {a.show}: not a changed shared query")
    print(f"\n{len(changed)} of {len(set(old) & set(new))} shared plans changed shape")
    return min(len(changed), 1) + 2 * drift


if __name__ == "__main__":
    if sys.argv[1:2] == ["--selftest"]:
        sys.exit(selftest())
    sys.exit(main(sys.argv[1:]))
