"""The registry's naming IS load-bearing (CLAUDE.md): exactly 50
priority queries whose alphabetical order is the priority order, then
an x-prefixed tail. A checker that evaluates any bounded prefix of the
sorted names must see full SURVEY §2 coverage first."""

from __future__ import annotations

from dask_snowflake_spark.queries import registry


def test_priority_window_is_exactly_50():
    names = sorted(registry())
    window, tail = names[:50], names[50:]
    assert not [n for n in window if n.startswith("x")], window
    assert all(n.startswith("x") for n in tail), tail


def test_priority_window_covers_every_surface():
    window = sorted(registry())[:50]
    # r8 rotation: partition_control demoted to x93_ (its repartition/
    # coalesce surface also rides the connector bin-packing row) to make
    # room for the round-7 flagships market_share_q8 (TPC-H Q8 shape)
    # and waiting_orders_blame (Q21 double-correlated-EXISTS shape).
    # r9 rotation: dedup_exact demoted to xcx_ (its mechanism is
    # driver-exercised inside pipeline_text_prep and dedup_apply) and
    # q16_set_ops to xcy_ (union/distinct shapes ride a dozen green
    # rows) to make room for graph_kcore_onion (r8's k-core peeling
    # flagship, ex-xcw) and profile_columns (the one-pass-per-family
    # column profiler, ex-xb1); second r9 swap: q07_full_outer -> xcz_
    # (the §2.B outer-join row stays driver-green via q06) for
    # bootstrap_ci (ex-xcl, the Poisson-resampling CI flagship).
    # r10 rotation: pipeline_text_prep -> xd3_ (its quality-filter ->
    # exact-dedup -> token-budget chain is a strict subset of the
    # driver-green pipeline_llm_corpus + doc_stats), connector_roundtrip
    # -> xd4_ (the read path executes inside connector_write_roundtrip's
    # read-back), dedup_cluster_cc -> xd5_ (CC runs inside dedup_apply
    # and pipeline_llm_corpus) to make room for the r9 flagships
    # governance_t_closeness (ex-xd0), attribution_linear (ex-xd1) and
    # changepoint_cusum (ex-xd2).
    # r11 rotation: market_share_q8 -> xdf_ (multi-table join + window
    # share ride driver-green q04/xce-shape rows), waiting_orders_blame
    # -> xdg_ (pre-agg + semi/anti shapes ride q05 and window rows),
    # asof_join_events -> xdh_ (driver-green r3-r10; the as-of mechanism
    # also runs in x23's forward twin), fn_udf_table_function -> xdi_
    # (UDTF driver-green r4-r10; three fn_udf_ rows stay in-window) to
    # make room for the r10 flagships: dedup_span_regions (ex-xd6) +
    # dedup_region_apply (ex-xde) — the Lee-et-al. substring-dedup
    # pipeline — bpe_segment_corpus (ex-xd9, exercises the bounded BPE
    # loop AND the corpus join) and conformal_interval (ex-xdb).
    # Second r11 rotation (same round, so THIS round's flagships get
    # driver rows immediately instead of waiting a round):
    # changepoint_cusum -> xdr_ (driver-green r10), bootstrap_ci ->
    # xds_ (driver-green r9-r10), data_mixture -> xdt_ (driver-green
    # r4-r10), flow_dedup -> xdu_ (driver-green r3-r10; four flow_
    # rows stay in-window) to make room for bpe_encode_frozen (ex-xdj,
    # frozen-table BPE encoding), cms_sketch_probe (ex-xdq, count-min
    # sketch), dsir_importance_selection (ex-xdk, DSIR data selection)
    # and pca_power_iteration (ex-xdp, exact power iteration).
    # Third r11 rotation (continuation session — same-round flagships
    # again take driver rows immediately): attribution_linear -> xe8_
    # (driver-green r10; the attribution seat passes to the model-based
    # flagship), decontaminate_evals -> xe9_ (driver-green r2-r10; the
    # decontam step also runs inside driver-green pipeline_llm_corpus),
    # fn_udf_pandas -> xea_ (driver-green r2-r10; two fn_udf_ rows stay
    # in-window) to make room for attribution_markov (ex-xe2, Markov
    # removal-effect attribution), content_defined_chunks (ex-xe0,
    # FastCDC chunk-store dedup) and dbscan_embeddings (ex-xe5, DBSCAN
    # density clustering).
    # Fourth r11 rotation (continuation session): q02_filter_predicates
    # -> xel_ (compound-predicate pushdown rides every filtered scan in
    # the window — q01/q04/q06 all push predicates; driver-green
    # r1-r10), q03_projection_expr -> xem_ (scalar-expression
    # projection rides q17/q18/q20's function rows; driver-green
    # r1-r10), fn_udf_apply_in_pandas -> xen_ (the applyInPandas
    # grouped-map surface is driver-exercised inside dbscan_embeddings'
    # kernel and flow_stateful_counters' stateful variant; one fn_udf_
    # row stays in-window) to make room for attribution_shapley
    # (ex-xeg, lattice cooperative-game credit), acf_ljung_box (ex-xee,
    # Box-Jenkins dependence detector) and eb_shrunk_rates (ex-xei,
    # empirical-Bayes small-sample ranking).
    # Fifth r11 rotation: q15_topk -> xew_ (the TakeOrderedAndProject
    # surface is driver-exercised by xco's hybrid fusion and every
    # orderBy().limit() flagship — eb_shrunk_rates, xeu, link
    # prediction; driver-green r1-r10) to make room for sprt_ab
    # (ex-xet, Wald sequential early stopping — the experimentation
    # family's sequential member).
    # r12 rotation (the r11 VERDICT's #1 item): promote the six
    # highest-value never-driver-checked continuation flagships —
    # cluster_silhouette (ex-xe1), graph_lpa_communities (ex-xdw),
    # hits_bipartite (ex-xeb), ks_drift (ex-xec), rfm_segments
    # (ex-xef), vocab_good_turing (ex-xeh) — plus this round's depth
    # flagship quality_classifier. Demoted (all driver-green in prior
    # rounds; their CORRECTNESS history survives): q09_count_distinct
    # -> xey_ (distinct/approx-distinct shapes ride driver-green
    # profile_columns), q12_window_rank -> xez_ / q13_window_analytic
    # -> xf0_ / q14_window_running -> xf1_ (ranking windows ride
    # graph_kcore_onion + dedup_span_regions' gaps-and-islands,
    # lag/lead ride content_defined_chunks, running frames ride
    # sprt_ab's cumsum walk — three window rows where the surface is
    # already driver-exercised daily), q17_string_funcs -> xf2_ (the
    # string-function surface rides doc_stats' fused regex/split
    # pass), flow_windows -> xf3_ / flow_sessions -> xf4_ (two of four
    # flow_ rows; tumbling/sliding/session windowing mechanisms stay
    # driver-proven via flow_stateful_counters + flow_stream_join).
    # Second r12 rotation (same round — this round's continuation
    # flagships take driver rows immediately, the r11 precedent):
    # promote cluster_prune_policy (ex-xf5, cluster-statistics
    # curation), bloom_membership_index (ex-xf7, the sketch family's
    # membership axis) and temperature_mixture (ex-xf8, derived-weight
    # alpha-sampling); demote q05_semi_anti_join -> xf9_ (semi/anti
    # shapes run inside driver-green pipeline_llm_corpus's decontam
    # broadcast-semi-join; driver-green r1-r11), q08_range_join ->
    # xfa_ (the range/interval-join mechanism is driver-exercised by
    # flow_stream_join's stream-stream interval join; driver-green
    # r1-r11) and conformal_interval -> xfb_ (driver-green r10-r11;
    # its split/rank mechanisms also ride the eval family).
    # Third r12 rotation (same round): promote bh_fdr_control (ex-xfc,
    # multiple-testing), did_readout (ex-xfd, observational-causal),
    # jackknife_se (ex-xfe, closed-form resampling) and
    # capture_recapture (ex-xff, dedup-coverage estimation); demote
    # q10_rollup_cube -> xfg_ (grouping-sets Expand pass driver-green
    # r1-r11; also rides x32's multi-resolution rollup), q20_null_cast
    # -> xfh_ (null/cast semantics run inside every in-window query's
    # coalesce/cast paths; driver-green r1-r11), q21_json_semistructured
    # -> xfi_ (driver-green r1-r11; the VARIANT surface rides xaa) and
    # file_parquet_partitioned_sink -> xfj_ (partitioned-sink mechanics
    # ride driver-green file_bucketed_join's table sink + xep's ORC
    # roundtrip; driver-green r1-r11).
    # r13 rotation: promote hard_negative_mining (ex-xf6 — the one r12
    # flagship mechanism never driver-checked under any name),
    # roc_auc_eval (ex-xdv, tie-corrected Mann-Whitney), chi2_cramers_v
    # (ex-xed), calibration_ece (ex-xe7), rbo_rank_agreement (ex-xdn)
    # and spearman_rank_corr (ex-xdo) — the never-driver-checked
    # statistics flagships the r12 verdict named. Demote
    # q06_outer_join_agg -> xfk_ (outer-join agg rides driver-green
    # xcz full-outer history + q04's star join; driver-green r1-r12),
    # q11_percentile_collect -> xfl_ (exact-quantile mechanism rides
    # xa4/x67/xb7 consumers; driver-green r1-r12), q18_datetime_funcs
    # -> xfm_ (datetime surface runs inside every time-keyed green row:
    # xdy seasonal, x81/x82 latency, did_readout; driver-green r1-r12),
    # q22_array_map_hof -> xfn_ (the HOF/array surface is the wedge
    # kernel inside driver-green kcore/LPA/link-prediction rows;
    # driver-green r1-r12), graph_pagerank_centrality -> xfo_
    # (iterative-centrality mechanism rides driver-green hits_bipartite;
    # driver-green multiple rounds) and cms_sketch_probe -> xfp_
    # (sketch family stays driver-proven via bloom_membership_index;
    # driver-green r11-r12).
    # r13 depth-flagship promotion (same-round, the r11 precedent):
    # pack_sequences_atomic (document-atomic NFD histogram packing —
    # this round's depth flagship) enters immediately; demote
    # rfm_segments -> xfq_ (driver-green r11-r12; quantile-bucketed
    # segmentation mechanism rides xab equi-depth + the demoted
    # exact-quantile family's history).
    # Second r13 flagship promotion: graph_knn_descent (NN-descent
    # k-NN graph + recall audit — the first ANN-recall row with a FULL
    # value oracle; x21/x41/x90 stay rows-only by nature); demote
    # ks_drift -> xfr_ (driver-green r11-r12; the drift-test mechanism
    # stays covered by x68 PSI + xed chi2's association family).
    # r14 rotation (the r13 VERDICT's #2 item): promote the four
    # never-driver-checked r13 flagships — pass_at_k (ex-xfs, unbiased
    # Chen-et-al. eval), hdr_quantile_sketch (ex-xft, the mergeable
    # sketch family's quantile axis), bloom_join_prune (ex-xfu, the
    # bloom index in its production join-prune role) and
    # frequent_itemsets_apriori (ex-xfv, theorem-checked Apriori).
    # Demote the four deepest driver-green histories whose mechanisms
    # stay window-exercised: q01_pricing_summary -> xfw_ (13 greens;
    # hash-agg sum/avg rides every in-window aggregate),
    # q04_star_join_revenue -> xfx_ (13 greens; star broadcast joins
    # ride pipeline_llm_corpus + frequent_itemsets_apriori's joins —
    # the entry() flagship keeps calling it under the new name),
    # dedup_minhash_lsh -> xfy_ (13 greens; the LSH band join runs
    # driver-green inside pipeline_llm_corpus and dedup_apply, and
    # dedup_span_regions/dedup_region_apply keep the dedup_ family
    # in-window) and fn_udf_map_in_arrow -> xfz_ (12 greens; the
    # mapInArrow surface is driver-exercised inside
    # connector_write_roundtrip's per-partition bulk writer). The mm_
    # row (also 13 greens) stays: it is the window's only multimodal
    # representative, a first-class graded family.
    # Second r14 rotation (same-round promotion, the r11 precedent —
    # this round's flagships take driver rows immediately): promote
    # hll_cardinality (ex-xg0, the mergeable-sketch family's
    # cardinality axis — portable integer HLL, value-oracled where
    # x44's engine-private sketch images cannot be) and
    # ivfpq_recall_det (ex-x90, the deterministic integer IVF-PQ —
    # the first fully value-oracled IVF-PQ census, the r13 verdict's
    # #5). Demote ann_topk_ivf -> xg1_ (12 greens r2-r13; the IVF
    # cell-probe mechanism is now driver-exercised INSIDE
    # ivfpq_recall_det's coarse quantizer, and the similarity family
    # keeps graph_knn_descent/dbscan/cluster_* rows in-window) and
    # flow_stateful_counters -> xg2_ (12 greens r2-r13; the flow_
    # family stays via flow_stream_join, and the stateful
    # applyInPandasWithState surface keeps its streaming contract
    # tests).
    prefixes = (
        "acf_", "attribution_", "bh_", "bloom_", "bpe_",
        "calibration_", "capture_", "chi2_", "cluster_", "connector_",
        "content_", "dbscan_", "dedup_", "did_", "doc_", "dsir_",
        "eb_", "file_", "flow_", "frequent_", "governance_", "graph_",
        "hard_", "hdr_", "hits_", "hll_", "ivfpq_", "jackknife_",
        "mm_", "pass_", "pca_",
        "pack_", "pipeline_", "profile_", "quality_", "rbo_",
        "roc_", "spearman_", "sprt_", "temperature_", "vocab_",
    )
    for p in prefixes:
        assert any(n.startswith(p) for n in window), f"no {p} query in the checked window"


def test_registry_is_covered_by_survey_inventory():
    """Every registry query must have a SURVEY.md row (the §8 declared-
    queries table is the audit contract — a query with no inventory row
    is invisible to the judge). Guards the r5 drift where x95/x96
    shipped without SURVEY rows."""
    import pathlib
    import re

    survey = (pathlib.Path(__file__).parent.parent / "SURVEY.md").read_text()
    declared = set(re.findall(r"^\| `([a-z0-9_]+)` \|", survey, re.MULTILINE))
    missing = set(registry()) - declared
    assert not missing, f"registry queries missing a SURVEY table row: {sorted(missing)}"


def test_survey_headline_count_matches_registry():
    """SURVEY §8's '**N registry queries total' sentence must equal
    len(registry()) — the count drifted 176 vs 187 in round 7 when
    late-round queries landed without updating the prose."""
    import pathlib
    import re

    survey = (pathlib.Path(__file__).parent.parent / "SURVEY.md").read_text()
    m = re.search(r"\*\*(\d+) registry queries\s+total", survey)
    assert m, "SURVEY §8 headline count sentence not found"
    assert int(m.group(1)) == len(registry()), (
        f"SURVEY says {m.group(1)} registry queries; registry holds "
        f"{len(registry())} — update the §8 prose"
    )


def test_every_query_has_oracle_or_documented_rows_only():
    rows_only = {n for n, qd in registry().items() if qd.oracle is None}
    # only approximate / iterative-training queries may skip the oracle
    assert rows_only <= {
        "x04_approx_sketches",
        "x21_ivf_trained_recall",
        "x41_pq_adc_recall",
        "x44_hll_mergeable_sketches",
        "x45_heavy_hitters",
        "x90_ivfpq_recall",
    }, rows_only


def test_every_query_docstring_is_short_and_timeless():
    """Each query function says what it computes, and its exactness
    invariant, in a docstring of 1-3 non-empty lines. Round history
    and before/after measurements belong in git, not in the registry."""
    import inspect
    import re

    bad = {}
    for name, qd in registry().items():
        doc = inspect.getdoc(qd.spark_fn)
        lines = doc.splitlines() if doc else []
        if not 1 <= len(lines) <= 3 or not all(line.strip() for line in lines):
            bad[name] = f"{len(lines)} lines"
        elif re.search(r"\br\d+\b", doc):
            bad[name] = "round tag"
    assert not bad, bad


def test_package_reads_only_deployment_env_vars():
    """The package reads only the deployment variables (core count,
    driver heap) and the variable Spark gives every Python worker; it
    writes none. Any other environment knob would select behaviour no
    caller sets, so a new one has to be argued here first."""
    import ast
    import pathlib

    allowed = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "PYTHON_WORKER_FACTORY_SECRET"}

    def is_os_attr(node, attr):
        return (
            isinstance(node, ast.Attribute)
            and node.attr == attr
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
        )

    def key(node):
        return node.value if isinstance(node, ast.Constant) else None

    pkg = pathlib.Path(__file__).parent.parent / "dask_snowflake_spark"
    found, odd = set(), []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text())
        parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
        for node in ast.walk(tree):
            where = f"{path.relative_to(pkg.parent)}:{getattr(node, 'lineno', '?')}"
            if isinstance(node, ast.ImportFrom) and node.module == "os":
                if {a.name for a in node.names} & {"environ", "getenv", "putenv"}:
                    odd.append(f"{where} imports from os")
            if is_os_attr(node, "getenv"):
                call = parents.get(node)
                k = key(call.args[0]) if isinstance(call, ast.Call) and call.args else None
                found.add(k) if k else odd.append(f"{where} os.getenv")
            if is_os_attr(node, "putenv"):
                odd.append(f"{where} os.putenv")
            if not is_os_attr(node, "environ"):
                continue
            up = parents.get(node)
            k = None
            if isinstance(up, ast.Subscript) and isinstance(up.ctx, ast.Load):
                k = key(up.slice)
            elif isinstance(up, ast.Attribute) and up.attr == "get":
                call = parents.get(up)
                if isinstance(call, ast.Call) and call.args:
                    k = key(call.args[0])
            elif isinstance(up, ast.Compare) and isinstance(up.ops[0], (ast.In, ast.NotIn)):
                k = key(up.left)
            found.add(k) if k else odd.append(f"{where} os.environ use that is not a keyed read")
    assert not odd and found <= allowed, (odd, sorted(found - allowed))


def test_every_defaulted_parameter_is_passed_somewhere():
    """A parameter with a default that no call ever passes is a constant
    in disguise: every caller gets the same value, and the branches it
    guards never run. For each function of the package whose name is
    unique there, each defaulted parameter must be passed by keyword, by
    position, or through ``*args``/``**kwargs`` by at least one call in
    the package, the tests, the tools, ``bench.py`` or ``perfbench/``.
    Calls are matched by name (``f(...)`` or ``x.f(...)``); a method's
    positions count from after ``self``/``cls`` on attribute calls.
    Dunder methods are exempt."""
    import ast
    import collections
    import pathlib

    root = pathlib.Path(__file__).parent.parent

    def sources(*names):
        for name in names:
            path = root / name
            if path.is_file():
                yield path
            else:
                yield from sorted(p for p in path.rglob("*.py") if ".work" not in p.parts)

    defs = collections.defaultdict(list)
    for path in sources("dask_snowflake_spark"):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs[node.name].append((path, node))

    calls = collections.defaultdict(list)
    for path in sources("dask_snowflake_spark", "tests", "tools", "bench.py", "perfbench"):
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            if isinstance(f, ast.Name):
                calls[f.id].append((node, False))
            elif isinstance(f, ast.Attribute):
                calls[f.attr].append((node, True))

    def passes(call, on_attr, name, index, method):
        keywords = {k.arg for k in call.keywords}
        if name in keywords or None in keywords:
            return True
        if index is None:
            return False
        if any(isinstance(a, ast.Starred) for a in call.args):
            return True
        return len(call.args) > index - (1 if method and on_attr else 0)

    unpassed = []
    for name, found in defs.items():
        if len(found) != 1 or (name.startswith("__") and name.endswith("__")):
            continue
        path, fn = found[0]
        a = fn.args
        positional = a.posonlyargs + a.args
        method = bool(positional) and positional[0].arg in ("self", "cls")
        first = len(positional) - len(a.defaults)
        params = [(p.arg, i) for i, p in enumerate(positional) if i >= first]
        params += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
        for param, index in params:
            if not any(passes(c, attr, param, index, method) for c, attr in calls[name]):
                unpassed.append(f"{path.relative_to(root)}:{fn.lineno} {name}({param})")
    assert not unpassed, f"{len(unpassed)} defaulted parameters no call passes: {unpassed}"
