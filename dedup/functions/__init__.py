"""Column kernels: normalization, shingles, similarity and sketches."""
