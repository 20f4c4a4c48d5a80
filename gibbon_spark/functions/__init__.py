"""Column-level functions: text metrics and exact cross-engine arithmetic."""
