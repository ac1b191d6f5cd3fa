"""North-star extension operators (SURVEY §2.E): dedup, similarity
search, text analysis, multimodal columns."""
