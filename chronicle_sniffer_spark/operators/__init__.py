"""Custom operators beyond stock Spark SQL: near-dup detection,
approximate-nearest-neighbor search, multimodal column plumbing,
pcap decode (SURVEY.md §2B L2/L3/L5, S4/R9) — plus the fixtures,
sketches and constants that more than one catalog plan module shares,
each next to the operator it parametrises."""
