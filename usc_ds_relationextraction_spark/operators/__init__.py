"""Relational operators of the KG-construction engine: mention detection,
distant-supervision labeling, pair generation, vocab encoding, bipartite
graph builders, skew tooling, and the multimodal plumbing behind the
extended driver-contract queries."""
