"""Event-time operators (SURVEY §2.E E5/E6): windows, sessions, as-of
joins — batch forms registered as queries; true Structured Streaming
variants in `stream_jobs` (exercised by tests)."""
