"""Thresholds of the C4-style document quality gate and of the
hash-based train/val/test split, shared by the curation entries and
the streaming crawl ingest."""

MIN_WORDS = 50
MEAN_WL_LO, MEAN_WL_HI = 3.0, 10.0
MAX_SYMBOL_RATIO = 0.1

_SPLIT_A, _SPLIT_M = 16807, 2147483647  # Lehmer multiplier != sampling's 48271
TRAIN_PCT, VAL_PCT = 80, 10
