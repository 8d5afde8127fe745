# One-line verification / bench targets. ROUND picks the artifact suffix:
#   make selfcheck-report ROUND=5   -> SELFCHECK_r5.txt (hostile, sf0.01 + sf0.1)
#   make bench                      -> one JSON line on stdout (median-of-3/query)
#   make test                       -> full pytest suite (tier-1 command)
#   make perfbench-smoke            -> ~1-minute end-to-end check of the
#                                      lakehouse jobs on tiny inputs
#
# selfcheck-report is SELF-VALIDATING: the tool's parent process is the only
# stdout writer (worker Spark/DuckDB noise goes to per-worker logs under
# .selfcheck_cache/), every assigned query is guaranteed a printed line even
# if its worker dies, and check_selfcheck_artifact.py re-counts the tee'd
# FILE against each section's footer — the round-4 lost-lines defect fails
# the target instead of shipping.
ROUND ?= 6
WORKERS ?= 6

.PHONY: selfcheck-report bench test perfbench-smoke scaling scaling-ladder

selfcheck-report:
	{ echo "== hostile sf0.01 =="; \
	  python -u tools/selfcheck.py --hostile --workers=$(WORKERS) /root/testdata/sf0.01; \
	  echo "== hostile sf0.1 =="; \
	  python -u tools/selfcheck.py --hostile --workers=$(WORKERS) /root/testdata/sf0.1; \
	} | tee SELFCHECK_r$(ROUND).txt
	python tools/check_selfcheck_artifact.py SELFCHECK_r$(ROUND).txt

bench:
	python bench.py

# the tier-1 command from ROADMAP.md, verbatim
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# Both perfbench workloads on tiny inputs; fails unless each run's last
# stdout line reports every output check correct and no failed op.
perfbench-smoke:
	@for w in ingest curate; do \
	  python3 perfbench/run.py --workload $$w --seed 1 --seconds 2 --trace 0 --smoke \
	  | tail -n 1 | python3 -c 'import json, sys; r = json.loads(sys.stdin.read()); \
	    print(sys.argv[1], "correct:", r["correct"], "failed:", r["failed"]); \
	    sys.exit(not (r["correct"] is True and r["failed"] == 0))' $$w || exit 1; \
	done

# Decade-scaling gate (SCALING.md protocol, CI shape): regenerates the
# 10x scale pair if absent, probes every LINEAR-CLAIMED heavy query, and
# fails if any measured exponent breaches its budget (1.2 ~= 16x wall
# over a 10x decade; a quadratic candidate explosion measures 50-70x).
# Exemptions are REGISTRY-derived since round 10: a catalog probe with
# no budget must be registered baseline_only (q61_winnow_near_dups_exact,
# the O(n²) oracle anchors) or scaling_adjudicated (q171's flat-vocab
# worst case, reason stored at the registration site) — check_scaling.py
# validates this instead of trusting a comment here.
scaling:
	test -d .tmp/scaleB -a -d .tmp/scaleA4 || python tools/synth_scale.py .tmp
	python -u tools/scale_probe.py .tmp \
	  q27_minhash_near_dups q314_rendezvous_detection \
	  q343_winnow_near_dups_capped q345_repeated_substring_spans \
	  q347_bigram_logprob q349_ngram_novelty q372_ngram_novelty_hashed \
	  q357_stop_detection q359_grid_dbscan_clusters q363_cpa_screening \
	  q369_containment_pairs cosine085_auto_geometry \
	  cosine085_saturated_geometry \
	  cc_on_capped_pairs q381_knn_adaptive_radius \
	  q33_ann_lsh_topk q55_ivf_topk q64_cosine_dup_cluster \
	  q383_minhash_portable q214_triangle_count q179_event_type_pagerank \
	  q397_bfs_hops_exact bfs_on_capped_pairs q446_bfs_hops_capped \
	  | tee .tmp/scale_probe_last.json
	python tools/check_scaling.py .tmp/scale_probe_last.json

# Two-decade ladder (A -> B -> C = 1x -> 10x -> 100x) for the five
# cheapest linear-claimed probes: per-segment exponents catch curvature
# (log-factor creep in the gram families) that one decade can't.
# GATING since round 8: check_scaling.py --ladder enforces A->B AND B->C
# budgets (q345's adjudicated curvature gets 1.45; q383's scaleC
# c_error is adjudicated — see LADDER_C_ERROR_OK); breaches fail CI.
scaling-ladder:
	test -d .tmp/scaleC || python tools/synth_scale.py .tmp 5000 --with-c
	python -u tools/scale_probe.py .tmp --with-c \
	  q27_minhash_near_dups q343_winnow_near_dups_capped \
	  q345_repeated_substring_spans q357_stop_detection \
	  q383_minhash_portable \
	  | tee .tmp/scale_ladder_last.json
	python tools/check_scaling.py .tmp/scale_probe_last.json \
	  --ladder .tmp/scale_ladder_last.json
