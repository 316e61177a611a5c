"""Sources & sinks: block-structured text scan (S1/S2), the six NBODY6
file configs (S3-S8), run discovery (S9), and sink helpers (S10, S12, S13)."""
