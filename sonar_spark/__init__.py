"""sonar_spark — a from-scratch PySpark-native temporal-alignment and
fingerprint feature-engineering engine (see SURVEY.md / README.md).

Public API (DataFrame -> DataFrame transforms, SURVEY §7.0):
- operators.features.frame_features_arrow
- operators.asof.asof_join
- operators.sessionize.sessionize_by_gap / detect_silence / detect_onsets
- operators.fingerprint.minhash_fingerprints / lsh_candidate_pairs
- operators.compare.compare_topk
- operators.align.align_pairs
"""

__version__ = "0.1.0"
