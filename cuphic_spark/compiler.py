"""Driver-side pattern compiler: Cuphic pattern -> physical strategy.

The reference's primary optimization is the constant-time "head
check" — tag + attrs gate before any child matching (README.md:130-131,
144). In Spark that head check is worth far more than O(1): expressed
as DataFrame filters over the ``nodes`` table it becomes a
Catalyst-native plan — predicate pushdown into the parquet scan,
column pruning, whole-stage codegen — with ZERO Python in the loop.

So the compiler classifies every pattern:

* **relational** — head-shaped patterns (tag literal/variable/
  wildcard, flat attr literals + slots, and a child section that is a
  LITERAL TEXT PREFIX followed by nothing, a trailing ``???``, or one
  terminal variable — e.g. ``[]``, ``[???]``, ``[var]``,
  ``[:li {} "•" body]``): compiled to pure select/filter expressions
  over ``nodes`` (``children[i]`` positional predicates for the
  prefix). This covers every scrape pattern in the reference's own
  test suite plus fixed-prefix scrapes that round 2 still taxed with
  the kernel path.
* **kernel** — anything with true sequence structure (mid-sequence
  variables/wildcards, gaps before fixed sections, repetitions,
  nested vector patterns, nested attr maps): routed to the
  Arrow-batched kernel scrape (operators/parse.py).

Both paths produce identical ``matches`` rows (url, pattern_key,
node_id, bindings) — parity is pinned by tests.

Reference semantics preserved in the relational translation
(cuphic.cljc:11-53 attr matching; §2.A quirks):

* literal attr: key present AND value equal (open-world: extra attrs
  fine; the count shortcircuit is implied by key-presence filters);
* variable attr slot: key present, value bound; ``?var``: value bound
  if present, no presence filter; ``_``: key present, not bound;
* tag variable binds the keyword (encoded ":tag");
* child ``[var]`` is a terminal arbitrary section: matches 0 or 1
  children (nil-binding quirk on 0 — test_match.py pins this), fails
  on 2+; value is the text child, or the SUBTREE for an element
  child. Text/absent children stay pure-Catalyst; element children
  are completed by a subtree-reconstruction assist (``subtree_edn``)
  joined back in ``match_nodes`` — see its docstring for the cost
  model. Parity with the kernel path on element children is pinned
  by tests/test_spark_extract.py.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .kernel import reader
from .kernel import symbols as syms
from .kernel.match import normalise
from .kernel.values import Keyword, Symbol, is_map, is_vector


@dataclass
class HeadPlan:
    tag_literal: str | None = None          # None => wildcard or variable
    tag_binding: str | None = None          # symbol name bound to tag
    attr_literal: dict = field(default_factory=dict)   # qualified-name -> encoded value
    attr_required: list = field(default_factory=list)  # [(key, sym_name)] presence+bind
    attr_optional: list = field(default_factory=list)  # [(key, sym_name)] bind-if-present
    attr_present: list = field(default_factory=list)   # [key] wildcard slots
    child_lits: list = field(default_factory=list)  # literal TEXT prefix
    child_mode: str = "gap"  # child section AFTER the literal prefix:
    # 'exact' — nothing follows (size == len(lits));
    # 'gap'   — trailing ??? (size >= len(lits));
    # 'var'   — one terminal variable (matches 0 or 1 further children)
    child_binding: str | None = None        # symbol name for 'var'


@dataclass
class CompiledPattern:
    key: str
    source: str
    pattern: object
    strategy: str          # 'relational' | 'kernel'
    head: HeadPlan | None = None
    reason: str = ""       # why kernel path was chosen


def compile_pattern(key: str, source: str) -> CompiledPattern:
    pattern = normalise(reader.parse(source))
    head = HeadPlan()

    def kernel(reason: str) -> CompiledPattern:
        return CompiledPattern(key, source, pattern, "kernel", None, reason)

    tag = pattern[0]
    if isinstance(tag, Keyword):
        head.tag_literal = tag.name
    elif syms.is_wildcard(tag):
        pass
    elif syms.is_variable(tag):
        head.tag_binding = tag.name
    else:
        return kernel(f"unsupported tag pnode {tag!r}")

    attrs = pattern[1]
    if not is_map(attrs):
        return kernel("non-map attrs pattern")
    for k, v in attrs.items():
        if not isinstance(k, Keyword):
            return kernel(f"non-keyword attr key {k!r}")
        if isinstance(v, Symbol):
            if syms.is_wildcard(v):
                head.attr_present.append(k.name)
            elif syms.is_optional_variable(v):
                head.attr_optional.append((k.name, v.name))
            elif syms.is_variable(v):
                head.attr_required.append((k.name, v.name))
            else:
                return kernel(f"unsupported attr slot {v!r}")
        elif isinstance(v, str):
            head.attr_literal[k.name] = v
        elif is_map(v) or is_vector(v):
            return kernel("nested attr value")
        else:
            head.attr_literal[k.name] = reader.dumps(v)

    # Child section: a LITERAL TEXT PREFIX (kernel: leading strings
    # extend the first fixed section — positional text equality)
    # followed by nothing / a trailing gap / one terminal variable.
    # This compiles shapes like [:li {} "•" body] relationally
    # (round-2 verdict item 3 — previously any literal child paid the
    # kernel tax). Mid-sequence variables/wildcards, repetitions, and
    # nested vector literals still route to the kernel: their section
    # semantics (lookahead search, chunking) are not head-shaped.
    children = pattern[2:]
    i = 0
    while i < len(children) and isinstance(children[i], str):
        head.child_lits.append(children[i])
        i += 1
    tail = children[i:]
    if len(tail) == 0:
        head.child_mode = "exact"
    elif len(tail) == 1 and syms.is_optional_omission(tail[0]):
        head.child_mode = "gap"
    elif len(tail) == 1 and syms.is_variable(tail[0]):
        head.child_mode = "var"
        head.child_binding = tail[0].name
    else:
        return kernel("non-head child section")

    return CompiledPattern(key, source, pattern, "relational", head)


def _head_common(cp: CompiledPattern) -> Column:
    """Tag + attr conditions shared by all child modes."""
    head = cp.head
    cond = F.lit(True)
    if head.tag_literal is not None:
        cond = cond & (F.col("tag") == head.tag_literal)
    for k, v in head.attr_literal.items():
        cond = cond & (F.element_at("attrs", F.lit(k)) == v)
    for k, _sym in head.attr_required:
        cond = cond & F.element_at("attrs", F.lit(k)).isNotNull()
    for k in head.attr_present:
        cond = cond & F.element_at("attrs", F.lit(k)).isNotNull()
    return cond


def _lit_prefix_cond(head: HeadPlan) -> Column:
    """Positional text-equality of the literal child prefix (kernel:
    the leading strings of the first fixed section). Out-of-range
    indexing yields SQL NULL, which the filter treats as false — the
    explicit size bounds below make the intent visible anyway."""
    cond = F.lit(True)
    for i, lit in enumerate(head.child_lits):
        # F.get, not [i]: ANSI mode (Spark 4 default) THROWS on
        # out-of-bounds indexing, and AND conjuncts evaluate left to
        # right — a too-short children array must read as NULL (filter
        # false), not kill the task (found by the fuzz parity sweep)
        c = F.get(F.col("children"), i)
        cond = cond & (c["kind"] == "text") & (c["text"] == lit)
    return cond


def head_filter(cp: CompiledPattern) -> Column:
    """The pushdown-able filter expression for a relational pattern —
    the TEXT branch: for 'var' child sections this accepts only
    text-or-absent children after the literal prefix (a pure column
    expression); element children are matched by ``elem_child_filter``
    + the subtree assist in ``match_nodes``."""
    head = cp.head
    k = len(head.child_lits)
    cond = _head_common(cp) & _lit_prefix_cond(head)
    if head.child_mode == "exact":
        cond = cond & (F.size("children") == k)
    elif head.child_mode == "gap":
        if k:  # k == 0 imposes nothing (any children)
            cond = cond & (F.size("children") >= k)
    elif head.child_mode == "var":
        # terminal arbitrary [var] after the prefix: 0 further
        # children (nil bind) or exactly 1
        cond = cond & (F.size("children") <= k + 1)
        if k:
            cond = cond & (F.size("children") >= k)
        cond = cond & ((F.size("children") == k)
                       | (F.get(F.col("children"), k)["kind"] == "text"))
    return cond


def elem_child_filter(cp: CompiledPattern) -> Column:
    """'var' patterns whose terminal child is an ELEMENT: the binding
    is the child's whole subtree (kernel semantics, cuphic.cljc
    terminal arbitrary section). These rows need the subtree assist."""
    k = len(cp.head.child_lits)
    return (_head_common(cp) & _lit_prefix_cond(cp.head)
            & (F.size("children") == k + 1)
            & (F.get(F.col("children"), k)["kind"] == "elem"))


def bindings_expr(cp: CompiledPattern, include_child: bool = True) -> Column:
    """map<string,string> column with the same encoding as the kernel
    path (operators/parse.py encode_value). ``include_child=False``
    omits the 'var'-tail child pair (the subtree assist fills it)."""
    head = cp.head
    # (key, value, presence) triples; presence None = always present.
    # Only attr_optional values can be NULL (everything else is either
    # guarded by the head filter's isNotNull conditions or produced by
    # a when/otherwise with a non-null default).
    pairs: list[tuple[Column, Column, Column | None]] = []
    if head.tag_binding:
        pairs.append((F.lit(head.tag_binding),
                      F.concat(F.lit(":"), F.col("tag")), None))
    for k, sym in head.attr_required:
        pairs.append((F.lit(sym), F.element_at("attrs", F.lit(k)), None))
    for k, sym in head.attr_optional:
        pairs.append((F.lit(sym), F.element_at("attrs", F.lit(k)),
                      F.element_at("attrs", F.lit(k)).isNotNull()))
    if head.child_mode == "var" and include_child:
        # no further child -> the nil-bind quirk: key present, value
        # "nil" (same encoding as the kernel path's encode_value(None))
        k = len(head.child_lits)
        pairs.append((F.lit(head.child_binding),
                      F.when(F.size("children") == k + 1,
                             F.get(F.col("children"), k)["text"])
                      .otherwise(F.lit("nil")), None))
    if not pairs:
        return F.create_map().cast("map<string,string>")
    # Null-valued entries = absent optional ?var slots must be dropped
    # (the kernel omits unbound ?vars from the bindings map). Round-8
    # optimization: the old ``map_filter`` is a higher-order function
    # (CodegenFallback — its whole subtree, the entire map build, ran
    # interpreted per match row). Each pair now contributes a 0/1-
    # element array in its ORIGINAL position and the concat feeds
    # map_from_arrays — same entries, same order, fully codegen-able.
    empty = F.array().cast("array<string>")
    key_parts = [F.array(k) if present is None
                 else F.when(present, F.array(k)).otherwise(empty)
                 for k, _v, present in pairs]
    val_parts = [F.array(v) if present is None
                 else F.when(present, F.array(v)).otherwise(empty)
                 for _k, v, present in pairs]
    return F.map_from_arrays(F.concat(*key_parts), F.concat(*val_parts))


def subtree_edn(nodes: DataFrame, targets: DataFrame) -> DataFrame:
    """Reconstruct the EDN text form of whole subtrees from the
    relational nodes encoding.

    ``targets``: (url, target_id) — the node_ids whose subtrees are
    needed. Returns (url, target_id, edn) with ``edn`` byte-identical
    to ``reader.dumps`` of the original Hiccup subtree (the kernel
    path's encode_value), provided attr values are strings — always
    true for XML/HTML-sourced nodes (XML attribute values are strings
    by construction; nodes built from hand-made trees with non-string
    attrs would round-trip through their encoded string form).

    Scale shape: the nodes scan is pruned to target urls by a
    broadcast semi-join (the target set is tiny — only pages where a
    'var'-tail pattern matched an element child), then ONE cogroup
    shuffle keyed by url rebuilds each requested subtree executor-side
    in Arrow batches.
    """
    import pandas as pd

    from .kernel import reader as _reader
    from .kernel.values import Keyword as _Keyword

    # rename the target side: its plan may share lineage with `nodes`
    # (targets are derived from a match scan over the same table), and
    # a bare same-name join would be flagged as an ambiguous self-join
    targets = targets.toDF("t_url", "t_id")
    target_urls = targets.select("t_url").distinct()
    pruned = (nodes
              .join(F.broadcast(target_urls),
                    F.col("url") == F.col("t_url"), "left_semi")
              .select("url", "node_id", "tag", "attrs", "children"))

    def rebuild(key, node_pdf: "pd.DataFrame", tgt_pdf: "pd.DataFrame"):
        if not len(tgt_pdf) or not len(node_pdf):
            return pd.DataFrame({"url": pd.Series([], dtype="object"),
                                 "target_id": pd.Series([], dtype="int64"),
                                 "edn": pd.Series([], dtype="object")})
        by_id = {int(nid): (tag, attrs, children) for nid, tag, attrs, children
                 in zip(node_pdf["node_id"], node_pdf["tag"],
                        node_pdf["attrs"], node_pdf["children"])}

        def build(root: int):
            # explicit-stack post-order, NOT recursion: documents
            # nested past Python's recursion limit (~1000) must not
            # kill the whole Arrow stage (advisor round-2 finding)
            memo: dict[int, list] = {}
            stack = [(root, False)]
            while stack:
                nid, expanded = stack.pop()
                tag, attrs, children = by_id[nid]
                kids = children if children is not None else []
                if not expanded:
                    stack.append((nid, True))
                    for ch in kids:
                        if ch["kind"] != "text":
                            stack.append((int(ch["child_id"]), False))
                    continue
                node = [_Keyword(tag),
                        {_Keyword(k): v for k, v in (attrs or {}).items()}]
                for ch in kids:
                    if ch["kind"] == "text":
                        node.append(ch["text"])
                    else:
                        node.append(memo[int(ch["child_id"])])
                memo[nid] = node
            return memo[root]

        tids = [int(t) for t in tgt_pdf["t_id"]]
        return pd.DataFrame({"url": [key[0]] * len(tids),
                             "target_id": tids,
                             "edn": [_reader.dumps(build(t)) for t in tids]})

    return (pruned.groupBy("url")
            .cogroup(targets.groupBy("t_url"))
            .applyInPandas(rebuild, "url string, target_id long, edn string"))


def match_nodes(nodes: DataFrame,
                compiled: list[CompiledPattern]) -> DataFrame:
    """Relational scrape as ONE shared scan (the reference's
    multi-pattern juxt, cuphic.cljc:401-405): every pattern's
    head-check and bindings are evaluated per row into an array of
    (pattern_key, bindings) entries, nulls filtered, then exploded to
    long format. A union-of-branches plan would re-execute the
    upstream parse once per pattern; this executes it exactly once
    regardless of pattern count.

    'var'-tail patterns whose matched child is an ELEMENT bind the
    child's whole subtree (kernel semantics). Those rows are emitted
    from the SAME scan with a ``target_id`` and completed by joining
    ``subtree_edn``. Cost model: the assist re-references ``nodes``
    (semi-join prune + reconstruction), so over an EPHEMERAL parse
    plan (pages_to_nodes piped straight in) the parse re-executes;
    for multi-query workloads materialize the nodes table first
    (parse once, store, query many — the intended 100 TB shape,
    where the extra references are column-pruned parquet scans)."""
    for cp in compiled:
        if cp.strategy != "relational":
            raise ValueError(
                f"pattern {cp.key} needs the kernel path: {cp.reason}")

    single_vars = [cp for cp in compiled
                   if cp.head.child_mode == "var"]
    entry_structs = []
    for cp in compiled:
        text_struct = F.struct(
            F.lit(cp.key).alias("pattern_key"),
            bindings_expr(cp).alias("bindings"),
            F.lit(None).cast("long").alias("target_id"),
            F.lit(None).cast("string").alias("binding_key"))
        e = F.when(head_filter(cp), text_struct)
        if cp.head.child_mode == "var":
            k = len(cp.head.child_lits)
            elem_struct = F.struct(
                F.lit(cp.key).alias("pattern_key"),
                bindings_expr(cp, include_child=False).alias("bindings"),
                F.get(F.col("children"), k)["child_id"].alias("target_id"),
                F.lit(cp.head.child_binding).alias("binding_key"))
            e = e.when(elem_child_filter(cp), elem_struct)
        entry_structs.append(e)
    entries = F.array(*entry_structs)
    # Round-8 plan shape: the old ``F.explode(F.filter(entries, ...))``
    # put a higher-order function under the generator — ArrayFilter is
    # CodegenFallback, so EVERY head predicate and bindings map was
    # evaluated interpreted. Exploding the raw entries array and
    # dropping nulls with a plain (codegen) filter keeps identical
    # rows in identical order and lets the whole match stage codegen.
    # A literal-tag prefilter additionally skips entry evaluation for
    # nodes no pattern can match (every compiled pattern pins its tag)
    # and reaches the parquet scan as a pushed filter.
    tag_lits = [cp.head.tag_literal for cp in compiled]
    src = nodes
    if all(t is not None for t in tag_lits):
        src = nodes.where(F.col("tag").isin(sorted(set(tag_lits))))
    m = (src
         .select("url", "node_id", F.explode(entries).alias("m"))
         .where(F.col("m").isNotNull())
         .select("url",
                 F.col("m.pattern_key").alias("pattern_key"),
                 F.col("node_id"),
                 F.col("m.bindings").alias("bindings"),
                 F.col("m.target_id").alias("target_id"),
                 F.col("m.binding_key").alias("binding_key")))
    if not single_vars:
        return m.select("url", "pattern_key", "node_id", "bindings")

    # complete elem-child rows with their reconstructed subtree; a
    # LEFT join keeps text rows (null target_id never matches) in the
    # same flow — no base/elem split. The nodes plan is referenced 4x
    # in total (match scan, targets for the semi-join, targets for the
    # cogroup, pruned reconstruction) — all pruned parquet scans over
    # a materialized nodes table.
    #
    # Round-8: targets derive DIRECTLY from the nodes scan with just
    # the single_var patterns' elem_child_filters + child_id — not by
    # re-running the full match stage (every pattern's head CASE +
    # bindings maps) twice more. Equivalence: a match row carries
    # target_id exactly when its pattern's elem_child_filter fired
    # (elem_child_filter requires children[k].kind == 'elem', which
    # makes head_filter's (size==k | kind=='text') branch false, so
    # the two WHEN branches are mutually exclusive by construction) —
    # the direct derivation selects the identical (url, target_id)
    # set. The giant match codegen fragment now exists ONCE in the
    # plan instead of three times: less work warm, and one fragment
    # to recompile/re-JIT when other queries evict the codegen cache
    # (the measured post-crawl 5x cpu inflation of this section).
    sv_tags = sorted({cp.head.tag_literal for cp in single_vars
                      if cp.head.tag_literal is not None})
    tsrc = nodes
    if all(cp.head.tag_literal is not None for cp in single_vars):
        tsrc = nodes.where(F.col("tag").isin(sv_tags))
    tcols = [F.when(elem_child_filter(cp),
                    F.get(F.col("children"),
                          len(cp.head.child_lits))["child_id"])
             for cp in single_vars]
    targets = (tsrc
               .select("url", F.explode(F.array(*tcols)).alias("target_id"))
               .where(F.col("target_id").isNotNull())
               .distinct())
    # fresh column names on the assist side: its plan embeds `m`
    # (target derivation), so a bare self-join would be ambiguous
    sub = subtree_edn(nodes, targets).toDF("s_url", "s_target_id", "edn")
    # broadcast: the assist side holds only element-child matches of
    # 'var'-tail patterns — rare rows, never the full match set
    # an elem-child row whose subtree lookup MISSES would silently
    # diverge from the kernel path (bindings without the child key) —
    # if the targets/nodes invariant is ever broken, fail LOUDLY
    # executor-side instead (advisor round-2 finding)
    return (m.join(F.broadcast(sub),
                   (F.col("url") == F.col("s_url"))
                   & (F.col("target_id") == F.col("s_target_id")), "left")
            .select("url", "pattern_key", "node_id",
                    F.when(F.col("target_id").isNull(), F.col("bindings"))
                    .when(F.col("edn").isNotNull(),
                          F.map_concat(
                              "bindings",
                              F.map_from_arrays(
                                  F.array(F.col("binding_key")),
                                  F.array(F.col("edn")))))
                    .otherwise(F.raise_error(F.concat(
                        F.lit("subtree assist missed target_id="),
                        F.col("target_id").cast("string"),
                        F.lit(" url="), F.col("url"),
                        F.lit(" — nodes/targets invariant broken"))))
                    .alias("bindings")))

