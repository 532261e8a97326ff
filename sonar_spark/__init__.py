"""sonar_spark — a from-scratch PySpark-native temporal-alignment and
fingerprint feature-engineering engine (see SURVEY.md / README.md).

Public API (DataFrame -> DataFrame transforms, SURVEY §7.0); a
setting only one caller value reaches is a constant, not a parameter:
- operators.features.frame_features_arrow(df, frame_cfg, feat_cfg)
- operators.asof.asof_join(left, right, *, key, left_ts, payload, cfg,
  strategy) — right carries ref_ts and ref_version
- operators.sessionize.sessionize_by_gap(df) (user_id, ts_sec, 1800 s
  gap) / detect_silence(features, *, threshold) /
  detect_onsets(features, *, signal, threshold_scale) (doc_id,
  frame_idx)
- operators.fingerprint.minhash_fingerprints(df, cfg) /
  lsh_candidate_pairs(sig_df, cfg, *, with_est)
- operators.compare.compare_topk(query, catalog, cfg, *, candidates)
  (top 3 per query)
- operators.align.align_pairs(pairs, cfg)
"""

__version__ = "0.1.0"
