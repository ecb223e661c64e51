"""z/x/y tile and Morton cell columns (tiling.cells)."""
