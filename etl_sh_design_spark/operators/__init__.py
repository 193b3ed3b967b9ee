"""Reusable relational operators (SURVEY.md §2) — each a DataFrame ->
DataFrame transformation built from Catalyst-optimizable primitives;
pandas UDFs only where a NumPy kernel or a stateful scan over unbounded
groups has no Column form (GEMM scoring, sequence packing, media
decode stubs)."""
